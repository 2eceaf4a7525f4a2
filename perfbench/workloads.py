"""The benchmark's workloads: the paper's pipeline on a generated
cohort, and a cut of the query registry on generated tables.

Each workload drives the package's public functions from outside, the
way ``tools/run_ep_pipelines.py`` and ``bench.py`` do, and is a closed
loop with one caller: ``run_op`` returns before the next operation
starts.

- ``ehr``: set-up runs EP1 on the cohort. One operation is one round
  of the paper's 5x2 cross-validation over WordMatching and NaiveBayes
  with its summary and the median model's predictions (EP2), then a
  deployment (EP3): the deployed model is fitted on the cohort, a
  freshly generated batch of new entries goes through EP1 and scoring,
  and the predictions are written and reported at 0.68.
- ``registry``: one operation is three passes, in a seeded order, over
  one registry query per operator family, each run to the ``noop``
  sink; a query is timed by its fastest run.

``setup`` makes the workload's inputs; ``warm_up`` is one untimed,
checked operation; ``prepare`` makes an operation's inputs outside the
timed region; ``run_op`` is timed (its wall time, unless it returns
its own ``op_s``); ``check`` raises ``CheckFailed`` when an output is
wrong.

In a traced run the operations are cut into spans named after the
package's modules. Where one Spark action would run several layers,
the traced run materialises at each layer boundary so that every span
holds its own jobs.
"""

from __future__ import annotations

import dataclasses
import os
import random
import time

from pyspark.ml import Pipeline, PipelineModel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from diagnosisextraction_ml_spark.functions.stemmer import stem_text_udf
from diagnosisextraction_ml_spark.functions.text import fix_xml_artefacts, simple_cleaning
from diagnosisextraction_ml_spark.operators.evaluate import (
    auc_rank,
    classification_report,
    curve_by_threshold,
)
from diagnosisextraction_ml_spark.operators.prep import (
    assign_folds,
    binarize_label,
    merge_on_column,
    recode_label,
)
from diagnosisextraction_ml_spark.plans.features import vocabulary_of
from diagnosisextraction_ml_spark.plans.harness import CVConfig, TextClassificationHarness
from diagnosisextraction_ml_spark.plans.models import build_model_pipeline
from diagnosisextraction_ml_spark.sources.readers import read_ehr_entries, read_predictions
from diagnosisextraction_ml_spark.sources.writers import write_predictions
from perfbench.ehrgen import write_entries
from perfbench.tablegen import write_tables
from perfbench.trace import Tracer

# Cohort sizes. 668 patients is the reference's own cohort.
COHORT_PATIENTS = 668
BATCH_PATIENTS = 3000  # about 8,800 new entries per deploy operation
THRESHOLD = 0.68

# Registry tables: sf 0.001 gives 6,000 lineitem rows, the size of the
# smallest test tables.
REGISTRY_SF = 0.001
QUERY_PASSES = 3
# One registry query per operator family, keyed by the module it
# exercises. One query stands for each of three pairs of related
# families: search (BM25) for similarity and search, funnel for funnel
# and rollup, the partition-pruned layout for the bucketed and
# partitioned layouts.
REGISTRY_QUERIES = {
    "queries": "rel_q8_market_share",
    "textstats": "text_top_words",
    "dedup": "dedup_lsh_band_pairs",
    "search": "search_bm25_topk",
    "graph": "graph_pagerank_top",
    "assoc": "assoc_rules_pairs",
    "sketch": "sketch_hll_distinct",
    "quality_model": "quality_token_logodds",
    "funnel": "events_attribution",
    "partitioned": "rel_q6_revenue_pruned",
}


class CheckFailed(Exception):
    """An operation's output is wrong."""


def ep1(spark, path: str) -> DataFrame:
    """EP1 as ``tools/run_ep_pipelines.py`` runs it: read, merge, clean, stem, label."""
    ehr = read_ehr_entries(spark, path)
    merged = recode_label(merge_on_column(ehr), src="Outcome", dst="Outcome")
    prepped = merged.withColumn(
        "Text", stem_text_udf(simple_cleaning(fix_xml_artefacts(F.col("Text"))))
    ).select("Text", "PATNR", "Outcome")
    return binarize_label(prepped, "Outcome", "label")


def _materialise(df: DataFrame, span) -> DataFrame:
    df = df.persist()
    span.rows = df.count()
    return df


class Workload:
    def __init__(self, work_dir: str, seed: int, tracer: Tracer):
        self.spark = None
        self.work_dir = work_dir
        self.seed = seed
        self.tracer = tracer

    def setup(self, spark) -> None:
        self.spark = spark

    def prepare(self, op: int):
        return None

    def warm_up(self) -> None:
        """One untimed, checked operation. The first operation in a
        session pays JIT compilation and code generation, which take
        longer than its own work."""
        self.check(self.run_op(0, self.prepare(0)))

    def after_ops(self) -> None:
        """Traced runs only: extra spans that are no operation of their own."""


class Ehr(Workload):
    """The paper's pipeline on a generated cohort: EP1 in set-up, then
    per operation one CV experiment (EP2) and one deployment (EP3)."""

    name = "ehr"

    def __init__(self, *args):
        super().__init__(*args)
        self.first_folds = None

    def setup(self, spark) -> None:
        super().setup(spark)
        path = os.path.join(self.work_dir, "cohort.csv")
        with self.tracer.span("setup.generate"):
            write_entries(path, self.seed, COHORT_PATIENTS)
        with self.tracer.span("setup.ep1") as sp:
            self.cohort = _materialise(ep1(spark, path), sp)
        if sp.rows != COHORT_PATIENTS:
            raise CheckFailed("EP1 lost patients of the set-up cohort")

    def prepare(self, op: int) -> str:
        path = os.path.join(self.work_dir, f"batch_{op}.csv")
        write_entries(path, self.seed * 1000 + op, BATCH_PATIENTS)
        return path

    def run_op(self, op: int, batch_path: str) -> dict:
        out = self._experiment(op)
        out.update(self._deploy(op, batch_path))
        return out

    def _experiment(self, op: int) -> dict:
        """EP2: one round of the 5x2 CV, its summary and the median
        model's predictions."""
        tr = self.tracer
        harness = TextClassificationHarness(
            self.cohort, ["WordMatching", "NaiveBayes"], CVConfig(rounds=1, folds=2)
        )
        with tr.span("harness.fit_models"):
            harness.fit_models(persist_models=True)
        with tr.span("harness.summary"):
            harness.summary()
        path = os.path.join(self.work_dir, f"predNaiveBayes_{op}")
        with tr.span("harness.write_median_predictions"):
            harness.write_median_predictions("NaiveBayes", path)
        return {"folds": harness.results, "median_path": path}

    def _deploy(self, op: int, batch_path: str) -> dict:
        """EP3: fit the deployed model on the cohort, then EP1 and
        scoring of the new batch, predictions written and reported."""
        spark, tr = self.spark, self.tracer
        with tr.span("models.fit"):
            model = build_model_pipeline("NaiveBayes").fit(self.cohort)
        pred_path = os.path.join(self.work_dir, f"pred_{op}")
        if tr.enabled:
            with tr.span("sources.read_ehr_entries") as sp:
                ehr = _materialise(read_ehr_entries(spark, batch_path), sp)
            with tr.span("prep.merge_on_column") as sp:
                merged = _materialise(merge_on_column(ehr), sp)
            with tr.span("text.clean") as sp:
                cleaned = _materialise(
                    merged.withColumn("Text", simple_cleaning(fix_xml_artefacts(F.col("Text")))), sp
                )
            with tr.span("stemmer.stem_text_udf") as sp:
                stemmed = _materialise(cleaned.withColumn("Text", stem_text_udf(F.col("Text"))), sp)
            with tr.span("models.transform") as scored_sp:
                scored = _materialise(_score(model, stemmed), scored_sp)
            with tr.span("sources.write_predictions") as sp:
                write_predictions(scored, pred_path)
                sp.rows = scored_sp.rows
            with tr.span("evaluate.report"):
                report = _report(spark, pred_path)
            for df in (ehr, merged, cleaned, stemmed, scored):
                df.unpersist()
        else:
            ehr = read_ehr_entries(spark, batch_path)
            prepped = merge_on_column(ehr).withColumn(
                "Text", stem_text_udf(simple_cleaning(fix_xml_artefacts(F.col("Text"))))
            )
            write_predictions(_score(model, prepped), pred_path)
            report = _report(spark, pred_path)
        return {"report": report, "pred_path": pred_path}

    def check(self, out: dict) -> None:
        folds = out["folds"]
        if any(len(rs) != 2 for rs in folds.values()):
            raise CheckFailed("a model is missing CV splits")
        for rs in folds.values():
            for r in rs:
                if not all(0.0 <= v <= 1.0 for v in (r.roc_auc, r.pr_auc, r.pr_auc_anchored)):
                    raise CheckFailed(f"AUC out of [0, 1] in {r.model} {r.round}/{r.fold}")
        if read_predictions(self.spark, out["median_path"]).count() < 1:
            raise CheckFailed("median predictions file is empty")

        preds = read_predictions(self.spark, out["pred_path"])
        row = preds.agg(
            F.count(F.lit(1)).alias("n"), F.min("PRED").alias("lo"), F.max("PRED").alias("hi")
        ).collect()[0]
        if row["n"] != BATCH_PATIENTS:
            raise CheckFailed(f"{row['n']} predictions for {BATCH_PATIENTS} patients")
        if row["lo"] is None or row["lo"] < 0.0 or row["hi"] > 1.0:
            raise CheckFailed("a score lies outside [0, 1]")
        rep = out["report"]
        if sum(int(rep[k]) for k in ("tp", "fp", "fn", "tn")) != BATCH_PATIENTS:
            raise CheckFailed("confusion counts do not sum to the patient count")

        self.check_folds(folds)

    def check_folds(self, folds: dict) -> None:
        """Compare an experiment's fold results with the first one's, bit
        for bit: order, AUCs, F1 and every curve row's counts and rates.

        Not compared: the curve's score thresholds. Their last bits
        follow CountVectorizer's vocabulary order, in which terms of
        equal count come out in another order from fit to fit, so each
        fit sums the scores in another order (see perfbench/README.md).
        How many thresholds moved is printed."""
        if self.first_folds is None:
            self.first_folds = folds
            return
        if _without_scores(folds) != _without_scores(self.first_folds):
            raise CheckFailed("fold results differ between experiments on the same cohort")
        moved = sum(
            a["score"] != b["score"]
            for name in folds
            for r, s in zip(folds[name], self.first_folds[name])
            for a, b in zip(r.curve, s.curve)
        )
        rows = sum(len(r.curve) for rs in folds.values() for r in rs)
        print(f"curve score thresholds that differ from the first experiment's: "
              f"{moved} of {rows}")

    def after_ops(self) -> None:
        """One stage-timed split (round 0, fold 0) of TF-IDF + NaiveBayes,
        the pipeline's stages fitted one group at a time as
        ``Pipeline.fit`` does."""
        tr = self.tracer
        tr.op = "split"
        folded = assign_folds(self.cohort, "PATNR", n_folds=2, rounds=1)
        train = folded.filter(F.col("fold_0") != 0)
        stages = build_model_pipeline("NaiveBayes").getStages()
        with tr.span("features.fit"):
            feats = Pipeline(stages=stages[:-2]).fit(train)
        tr.counts["features.vocab_terms"] = len(vocabulary_of(feats))
        with tr.span("features.transform") as sp:
            train_feats = _materialise(feats.transform(train), sp)
        with tr.span("models.nb.fit"):
            nb = stages[-2].fit(train_feats)
        model = PipelineModel(stages=[*feats.stages, nb, stages[-1]])
        with tr.span("evaluate.curve_auc") as sp:
            scored = _materialise(
                model.transform(folded.filter(F.col("fold_0") == 0)).select(
                    F.col("p1").alias("score"), "label"
                ),
                sp,
            )
            curve_by_threshold(scored, "score", "label").collect()
            auc_rank(scored, "score", "label").collect()
        for df in (scored, train_feats):
            df.unpersist()


class Registry(Workload):
    """A cut of ``bench.py``'s headline queries on generated tables."""

    name = "registry"

    def setup(self, spark) -> None:
        from diagnosisextraction_ml_spark.plans.queries import _partitioned_fact, queries

        super().setup(spark)
        self.sf_dir = os.path.join(self.work_dir, "tables")
        with self.tracer.span("setup.generate"):
            self.tables = write_tables(self.sf_dir, self.seed, REGISTRY_SF)
        # The storage layout the partition-pruned query reads, built
        # outside the timed passes as bench.py builds it.
        with self.tracer.span("setup.layouts"):
            _partitioned_fact(spark, self.sf_dir, "lineitem", "l_shipmonth")
        registry = queries()
        self.order = list(REGISTRY_QUERIES.items())
        random.Random(self.seed).shuffle(self.order)
        self.fns = {name: registry[name] for name in REGISTRY_QUERIES.values()}

    def warm_up(self) -> None:
        """The checked pass: every query's rows against its DuckDB twin
        (``oracle_sql()``) on the same tables, compared as
        ``tools/compare_oracle.py`` compares them."""
        import duckdb

        from diagnosisextraction_ml_spark.plans.queries import oracle_sql
        from tools.compare_oracle import approx_eq, canon

        oracles = oracle_sql()
        con = duckdb.connect()
        try:
            for table in self.tables:
                path = os.path.join(self.sf_dir, f"{table}.parquet")
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
            wrong = []
            for _family, name in self.order:
                df = self.fns[name](self.spark, self.sf_dir)
                got = canon([tuple(r) for r in df.collect()], df.columns)
                res = con.execute(oracles[name])
                cols = [d[0] for d in res.description]
                want = canon(res.fetchall(), cols)
                if sorted(cols) != sorted(df.columns) or len(got) != len(want) or not all(
                    len(a) == len(b) and all(approx_eq(x, y) for x, y in zip(a, b))
                    for a, b in zip(got, want)
                ):
                    wrong.append(name)
        finally:
            con.close()
        if wrong:
            raise CheckFailed(f"rows differ from the DuckDB oracle: {', '.join(wrong)}")

    def run_op(self, op: int, _inputs) -> dict:
        """Three passes over the queries; a query's time is its fastest
        execution, as ``bench.py`` takes it, and the operation's time is
        the sum. Passes rather than back-to-back repeats, so that a
        slow stretch of the host shorter than two passes leaves each
        query one unaffected execution."""
        tr = self.tracer
        best = dict.fromkeys(self.fns, float("inf"))
        for _ in range(QUERY_PASSES):
            for family, name in self.order:
                t0 = time.perf_counter()
                with tr.span(f"{family}.build"):
                    df = self.fns[name](self.spark, self.sf_dir)
                with tr.span(f"{family}.exec"):
                    df.write.format("noop").mode("overwrite").save()
                best[name] = min(best[name], time.perf_counter() - t0)
        return {"op_s": sum(best.values())}

    def check(self, out: dict) -> None:
        """A pass has no output of its own; its queries' rows are checked
        against the oracle in the warm-up pass."""


def _without_scores(folds: dict) -> dict:
    """Fold results with the score column dropped from every curve row."""
    return {
        name: [
            dataclasses.replace(r, curve=[{k: v for k, v in row.items() if k != "score"}
                                          for row in r.curve])
            for r in rs
        ]
        for name, rs in folds.items()
    }


def _score(model: PipelineModel, prepped: DataFrame) -> DataFrame:
    return model.transform(prepped).select(
        F.col("p1").alias("PRED"), F.col("Outcome").cast("int").alias("TRUE")
    )


def _report(spark, pred_path: str):
    back = read_predictions(spark, pred_path).select(
        F.col("PRED").alias("score"), F.col("TRUE").alias("label")
    )
    return classification_report(back, threshold=THRESHOLD).collect()[0].asDict()


WORKLOADS = {w.name: w for w in (Ehr, Registry)}
