"""The seeded EHR generator: determinism and the FIXTURES.md section 1 shape."""

from __future__ import annotations

import collections
import re

from perfbench.ehrgen import generate_entries, write_entries


def _rows(text: str) -> list[list[str]]:
    lines = text.split("\n")
    assert lines[0] == "PATNR;annotation;text"
    assert lines[-1] == ""
    return [line.split(";") for line in lines[1:-1]]


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a, b, c = tmp_path / "a.csv", tmp_path / "b.csv", tmp_path / "c.csv"
    write_entries(str(a), 7, 300)
    write_entries(str(b), 7, 300)
    write_entries(str(c), 8, 300)
    assert a.read_bytes() == b.read_bytes()
    assert a.read_bytes() != c.read_bytes()


def test_schema_and_entry_counts():
    rows = _rows(generate_entries(3, 500))
    assert all(len(r) == 3 for r in rows)
    per_patient = collections.Counter(r[0] for r in rows)
    labels = collections.defaultdict(set)
    for patnr, flag, _text in rows:
        assert re.fullmatch(r"\d+\.0", patnr)
        assert flag in ("TRUE", "FALSE")
        labels[patnr].add(flag)
    assert len(per_patient) == 500
    assert set(per_patient.values()) <= {1, 2, 3, 4, 5}
    assert any(n >= 2 for n in per_patient.values())
    assert all(len(flags) == 1 for flags in labels.values())
    positives = sum(1 for flags in labels.values() if "TRUE" in flags)
    assert 0.4 < positives / 500 < 0.6


def test_text_carries_targets_artefacts_punctuation_and_digits():
    rows = _rows(generate_entries(5, 2000))
    target = re.compile(r"\b(ra|reumatoide artritis|rheumatoid arthritis)\b")
    pos = [t for _p, f, t in rows if f == "TRUE"]
    neg = [t for _p, f, t in rows if f == "FALSE"]
    pos_rate = sum(bool(target.search(t)) for t in pos) / len(pos)
    neg_rate = sum(bool(target.search(t)) for t in neg) / len(neg)
    assert 0.5 < pos_rate < 0.7
    assert 0.02 < neg_rate < 0.1
    text = "".join(t for _p, _f, t in rows)
    for needle in ("ã«", "\t", "\xa0", "(", "!"):
        assert needle in text
    assert re.search(r"\d", text)
    assert not any(ch in text for ch in ("\r", '"'))
