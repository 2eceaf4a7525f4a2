"""The ehr workload's fold check: which differences fail an operation."""

from __future__ import annotations

import dataclasses

import pytest

from diagnosisextraction_ml_spark.plans.harness import FoldResult
from perfbench.workloads import CheckFailed, Ehr


def _folds(score=0.8165218241841327, tp=3.0, roc=0.9):
    curve = [
        {"score": score, "tp": tp, "fp": 1.0, "tpr": 0.5, "fpr": 0.25, "precision": 0.75, "f1": 0.6},
        {"score": 0.1, "tp": 6.0, "fp": 4.0, "tpr": 1.0, "fpr": 1.0, "precision": 0.6, "f1": 0.75},
    ]
    return {"NaiveBayes": [FoldResult("NaiveBayes", 0, f, roc, 0.8, 0.75, curve, 0.85) for f in (0, 1)]}


def _after_first_experiment() -> Ehr:
    """A workload (no session needed) that has checked one experiment."""
    w = Ehr.__new__(Ehr)
    w.first_folds = None
    w.check_folds(_folds())
    return w


def test_same_folds_pass_and_print_no_moved_threshold(capsys):
    _after_first_experiment().check_folds(_folds())
    assert "0 of 4" in capsys.readouterr().out


def test_moved_score_threshold_passes_and_is_counted(capsys):
    _after_first_experiment().check_folds(_folds(score=0.8165218241841347))
    assert "2 of 4" in capsys.readouterr().out


@pytest.mark.parametrize("other", [_folds(tp=4.0), _folds(roc=0.9000000000000001)])
def test_any_other_difference_fails(other):
    with pytest.raises(CheckFailed):
        _after_first_experiment().check_folds(other)


def test_missing_curve_row_fails():
    short = {
        name: [dataclasses.replace(r, curve=r.curve[:1]) for r in rs]
        for name, rs in _folds().items()
    }
    with pytest.raises(CheckFailed):
        _after_first_experiment().check_folds(short)
