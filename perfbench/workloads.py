"""The fixed program each workload runs per pass, and its correctness checks.

Every call into the package runs inside a tracer span named
``<module>.<function>``; the span names are the per-layer metric prefixes.
Lazy frames are charged to the call that makes Spark run them: the text
parse of ``read_dataset`` lands in ``init_columns`` and ``run_stats``,
and ``normalize_df`` is timed together with the write of its output.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from gen import dir_bytes
from shifu_spark.catalog import DataSetConf, ModelConfig, save_column_configs
from shifu_spark.ml.train import TrainParams, assemble_features, score_ensemble, train_models
from shifu_spark.operators.eval_metrics import curve_metrics_df
from shifu_spark.operators.normalize import normalize_df
from shifu_spark.pipeline import init_columns, run_stats, var_select
from shifu_spark.sources.reader import read_dataset, write_dataset

#: calls of one pipeline pass, in order; the Spark-side ones get counters
PIPELINE_CALLS = (
    "sources.read_dataset", "pipeline.init_columns", "pipeline.run_stats", "operators.normalize_df",
    "ml.train_models", "ml.score_ensemble", "operators.curve_metrics_df",
)
PIPELINE_STEPS = PIPELINE_CALLS[:3] + ("pipeline.var_select", "catalog.save_column_configs") + PIPELINE_CALLS[3:]

#: query_mix: TPC-H shapes, graph, dedup, text, streaming and a trainer,
#: including every query the roadmap names as a perf target
QUERY_MIX = (
    "tpch_q3_shipping_priority", "pagerank_part_supplier", "triangle_count_parts",
    "ngram_jaccard_pairs", "text_roundtrip_stats", "streaming_decontamination", "sgd_lr_train",
)
#: the trainer whose held-out AUC is query_mix's model_auc
QUERY_MIX_TRAINER = "sgd_lr_train"



def _digest(rows: list) -> str:
    from tests.oracle import _norm_cell

    norm = sorted(repr(tuple(_norm_cell(v) for v in r)) for r in rows)
    return hashlib.sha256("\n".join(norm).encode()).hexdigest()


@dataclass
class PassResult:
    auc: float | None = None
    artifact_bytes: int = 0
    #: pipeline: ColumnConfig digest and the catalog; query_mix: per-query
    #: (schema, rows)
    config_digest: str | None = None
    configs: list = field(default_factory=list)
    rows: dict = field(default_factory=dict)


class Pipeline:
    """wide_text: init -> stats -> varselect -> norm -> train -> eval, each
    step writing the artifact the next one reads."""

    def __init__(self, name: str, inputs: dict, out_dir: str):
        self.name, self.inputs, self.out = name, inputs, out_dir
        self.mc = ModelConfig(dataset=DataSetConf(
            target_column=inputs["target"], pos_tags=["1"], neg_tags=["0"],
            categorical_columns=inputs["categorical"],
        ))
        self.params = TrainParams(algorithm="LR", num_iterations=20)
        self.steps = PIPELINE_STEPS

    def read(self, spark, split: str):
        return read_dataset(spark, self.inputs[split], header_path=self.inputs.get(f"{split}_header"))

    def load_inputs(self, spark) -> int:
        return self.read(spark, "train").count() + self.read(spark, "eval").count()

    def input_bytes(self) -> int:
        return self.inputs["input_bytes"]

    def run_pass(self, spark, step) -> PassResult:
        """``step(name)`` is a context manager around one op."""
        mc, ds, out = self.mc, self.mc.dataset, self.out
        res = PassResult()
        norm_args = dict(norm_type=mc.normalize.norm_type, cutoff=mc.normalize.std_dev_cut_off,
                         tag_col=ds.target_column, pos_tags=ds.pos_tags, neg_tags=ds.neg_tags)
        with step("sources.read_dataset"):
            df = self.read(spark, "train")
        with step("pipeline.init_columns"):
            ccs = init_columns(df, mc)
        with step("pipeline.run_stats"):
            ccs = run_stats(df, mc, ccs)
        with step("pipeline.var_select"):
            ccs = var_select(ccs)
        with step("catalog.save_column_configs"):
            save_column_configs(ccs, f"{out}/ColumnConfig.json")
        feats = [c.column_name for c in ccs if c.final_select]
        with step("operators.normalize_df"):
            write_dataset(normalize_df(df, ccs, **norm_args), f"{out}/norm")
        with step("ml.train_models"):
            models = train_models(assemble_features(read_dataset(spark, f"{out}/norm"), feats),
                                  self.params, len(feats))
        with step("ml.score_ensemble"):
            ev = assemble_features(normalize_df(self.read(spark, "eval"), ccs, **norm_args), feats)
            write_dataset(score_ensemble(ev, models, keep_cols=["label"]), f"{out}/scores")
        with step("operators.curve_metrics_df"):
            scores = read_dataset(spark, f"{out}/scores")
            res.auc = float(curve_metrics_df(scores, "mean", F.col("label") == 1.0).collect()[0]["auc"])
        with open(f"{out}/ColumnConfig.json", "rb") as f:
            res.config_digest = hashlib.sha256(f.read()).hexdigest()
        res.configs = ccs
        res.artifact_bytes = sum(dir_bytes(f"{out}/{p}") for p in ("ColumnConfig.json", "norm", "scores"))
        return res

    def check_names(self) -> list[str]:
        return ["check.bin_counts", "check.column_config_digest", "check.model_auc_floor"]

    def checks(self, spark, passes: list[PassResult]):
        """Yield (check name, problem or None)."""
        last = passes[-1]
        bad = []
        for cc in last.configs:
            b, s = cc.column_binning, cc.column_stats
            if not (cc.is_candidate and cc.is_numerical and b.bin_count_pos):
                continue
            counts = [n + p for n, p in zip(b.bin_count_neg, b.bin_count_pos)]
            # the last slot holds the missing values
            if sum(counts[:-1]) != s.valid_num_count or sum(counts) != s.total_count:
                bad.append(f"{cc.column_name}: bins {sum(counts[:-1])}+{counts[-1]} vs "
                           f"valid {s.valid_num_count} total {s.total_count}")
        yield "check.bin_counts", "; ".join(bad) or None
        digests = {p.config_digest for p in passes}
        yield "check.column_config_digest", None if len(digests) == 1 else f"{len(digests)} distinct digests"
        floor = self.inputs["auc_floor"]
        low = [p.auc for p in passes if p.auc is None or p.auc < floor]
        yield "check.model_auc_floor", f"AUC {low} below floor {floor:.4f}" if low else None


class QueryMix:
    """A fixed list of registry queries over seeded TPC-H-shaped tables."""

    name = "query_mix"

    def __init__(self, inputs: dict, out_dir: str):
        # imported here: importing the registry reads the repository's gate
        # test data when it exists, which wide_text has no need for
        from shifu_spark.queries import ORACLES, QUERIES

        self.queries, self.oracles = QUERIES, ORACLES
        self.inputs, self.data_dir = inputs, inputs["dir"]
        self.steps = tuple(f"queries.{q}" for q in QUERY_MIX)

    def load_inputs(self, spark) -> int:
        return sum(spark.read.parquet(f"{self.data_dir}/{t}.parquet").count() for t in self.inputs["tables"])

    def input_bytes(self) -> int:
        return self.inputs["input_bytes"]

    def run_pass(self, spark, step) -> PassResult:
        res = PassResult()
        for q in QUERY_MIX:
            with step(f"queries.{q}"):
                df = self.queries[q](spark, self.data_dir)
                res.rows[q] = (df.schema, df.collect())
        trainer = res.rows.get(QUERY_MIX_TRAINER)
        if trainer and trainer[1]:
            res.auc = float(trainer[1][0]["holdout_auc"])
        return res

    def check_names(self) -> list[str]:
        return [f"check.{'oracle' if q in self.oracles else 'digest'}.{q}" for q in QUERY_MIX]

    def checks(self, spark, passes: list[PassResult]):
        from tests.oracle import compare

        con = duckdb_con(self.data_dir, self.inputs["tables"])
        try:
            for q in QUERY_MIX:
                if q in self.oracles:
                    got = passes[-1].rows.get(q)
                    if got is None:
                        yield f"check.oracle.{q}", "no result"
                    else:
                        # the rows the timed pass returned, as a local frame
                        problems = compare(spark.createDataFrame(got[1], got[0]), con, self.oracles[q], q)
                        yield f"check.oracle.{q}", "; ".join(problems) or None
                else:
                    runs = [p.rows.get(q) for p in passes]
                    if any(r is None or not r[1] for r in runs):
                        yield f"check.digest.{q}", "empty or missing result"
                    else:
                        n = len({_digest(r[1]) for r in runs})
                        yield f"check.digest.{q}", None if n == 1 else f"{n} distinct digests over {len(runs)} passes"
        finally:
            con.close()


def duckdb_con(data_dir: str, tables: list[str]):
    import duckdb

    con = duckdb.connect()
    con.sql(f"SET threads={len(os.sched_getaffinity(0))}")
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def make(name: str, inputs: dict, out_dir: str):
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    return QueryMix(inputs, out_dir) if name == "query_mix" else Pipeline(name, inputs, out_dir)
