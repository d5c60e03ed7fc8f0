"""The benchmark's workloads: which ops each runs, how each op is timed,
and how its output is checked.

An op has a construction phase (``build``) and a terminal call
(``execute``); the two together are its latency. During set-up every op
runs once untimed through ``warm`` (which, for a query timed into a noop
sink, collects the output instead), and ``check`` compares that output
with its reference: the registry's DuckDB oracle or a stream's batch
twin. ``after`` checks what a timed run returned, outside its timing.

Ops are grouped in units whose members keep their order (an evaluation
follows its fit); the seed permutes the units of each pass.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from big_data_imdb_classifier_spark import plans
from big_data_imdb_classifier_spark.cli import DEFAULT_SF_DIR
from big_data_imdb_classifier_spark.ml import pipeline as MLP
from big_data_imdb_classifier_spark.operators.similarity import corpus_row_count
from big_data_imdb_classifier_spark.plans import queries_ml as QM
from big_data_imdb_classifier_spark.plans.registry import ORACLE_VALID_BELOW
from big_data_imdb_classifier_spark.sources.readers import load_table
from big_data_imdb_classifier_spark.streaming import streams as ST

# The program's seed-42 testdata tables, one directory per scale factor.
TESTDATA = os.path.dirname(DEFAULT_SF_DIR)
SF001, SF0001 = f"{TESTDATA}/sf0.01", f"{TESTDATA}/sf0.001"

# Pinned cut of the 40-query headline set: a join-and-window plan, two
# queries that run Python workers, one with a scale-switched oracle and
# one that materialises a layout under .cache/. Copied, not imported, so
# the workload stays fixed when the headline list changes.
HEADLINE_CUT = [
    "flagship_top_customer_per_nation",  # join + window
    "mm_decode_metadata",                # Arrow Python decode
    "enrich_mock_llm_topics",            # mapInPandas enrichment
    "sim_maxsim_multivector",            # scale-switched oracle
    "layout_bucketed_join_colocated",    # bucketed layout under .cache/
]

# Hold-out accuracy of the paper's forest (300 trees, depth 15, seed 42)
# on the sf0.001 training frame; the fit is deterministic.
RF_ACCURACY_SF0001 = 0.8770764119601329


class CheckFailed(Exception):
    """An op's output differs from its reference."""


@dataclass
class Op:
    name: str
    layer: str  # the layer whose call ``execute`` times
    sf_dir: str  # the input tables
    build: Callable
    execute: Callable
    after: Callable = lambda ctx, out: None
    warm: Callable | None = None  # default: ``execute``
    check: Callable = lambda ctx, out: None
    query: bool = False  # a registry query: plans build + noop sink
    inputs: tuple[str, ...] | None = None  # tables read; None: learned by checking


@dataclass
class Context:
    spark: object
    state: dict = field(default_factory=dict)
    _ducks: dict = field(default_factory=dict)

    def duck(self, sf_dir: str):
        """A DuckDB connection with a view per table of ``sf_dir``."""
        if sf_dir not in self._ducks:
            import duckdb

            con = duckdb.connect()
            for f in sorted(os.listdir(sf_dir)):
                if f.endswith(".parquet"):
                    path = os.path.join(sf_dir, f)
                    con.execute(
                        f"CREATE VIEW {f[:-8]} AS "
                        f"SELECT * FROM read_parquet('{path}')"
                    )
            self._ducks[sf_dir] = con
        return self._ducks[sf_dir]


@dataclass
class Workload:
    name: str
    units: list[list[Op]]
    # Fewest timed passes: each op runs this often at least, so that its
    # median rides out a burst of host load.
    passes: int = 1


# ---------------------------------------------------------------- queries


class _Collected:
    """A collected result in the shape ``oracle_harness.compare`` reads."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


def _check_oracle(ctx: Context, name: str, sf_dir: str, pdf) -> None:
    from tests.oracle_harness import compare

    sql = plans.ORACLES.get(name)
    scope = ORACLE_VALID_BELOW.get(name)
    in_scope = scope is None or corpus_row_count(sf_dir, scope[0]) < scope[1]
    if sql is None or not in_scope:
        # No oracle holds here: the output must at least have rows.
        if len(pdf) == 0:
            raise CheckFailed(f"{name}: no rows")
        return
    try:
        compare(_Collected(pdf), ctx.duck(sf_dir), sql)
    except AssertionError as e:
        raise CheckFailed(f"{name}: {e}") from None


def query_op(name: str, sf_dir: str) -> Op:
    return Op(
        name=name,
        layer="operators",
        sf_dir=sf_dir,
        build=lambda ctx: plans.QUERIES[name](ctx.spark, sf_dir),
        execute=lambda ctx, df: df.write.format("noop").mode("overwrite").save(),
        warm=lambda ctx, df: df.toPandas(),
        check=lambda ctx, pdf: _check_oracle(ctx, name, sf_dir, pdf),
        query=True,
    )


# ---------------------------------------------------------------- streams


def _tumbling_twin(ev: DataFrame) -> set:
    df = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )
    return {tuple(r) for r in df.collect()}


# case -> (stream constructor, output mode, batch twin over (spark, sf_dir),
#          drained rows -> comparable)
STREAM_CASES: dict[str, tuple] = {
    "tumbling_counts": (
        ST.tumbling_counts_stream, "complete",
        lambda spark, sf: _tumbling_twin(load_table(spark, sf, "events")),
        lambda out: {tuple(r) for r in out.collect()},
    ),
}

# Drains that outlive this are counted as not terminated.
DRAIN_TIMEOUT_S = 60


def stream_op(case: str, sf_dir: str) -> Op:
    make, mode, twin, comparable = STREAM_CASES[case]

    def build(ctx):
        return make(ST.load_events_stream(ctx.spark, sf_dir))

    def execute(ctx, df):  # -> (memory-sink table, progress records)
        n = ctx.state["drains"] = ctx.state.get("drains", 0) + 1
        table = f"perfbench_{case}_{n}"
        out, progress = ST.run_to_memory(
            ctx.spark, df, table, output_mode=mode,
            timeout_sec=DRAIN_TIMEOUT_S, with_progress=True,
        )
        return out, progress

    def after(ctx, result):
        # run_to_memory returns a partial table when its wait times out,
        # so a drain only counts once no query is left running.
        active = ctx.spark.streams.active
        for q in active:
            q.stop()
        if active:
            raise CheckFailed(f"{case}: drain did not terminate")
        key = ("twin", case)
        if key not in ctx.state:
            ctx.state[key] = twin(ctx.spark, sf_dir)
        if comparable(result[0]) != ctx.state[key]:
            raise CheckFailed(f"{case}: drain differs from its batch twin")

    return Op(
        name=case, layer="streaming", sf_dir=sf_dir, build=build, execute=execute,
        check=after, after=after, inputs=("events",),
    )


# --------------------------------------------------------------------- ml


def ml_units(sf_dir: str, expected_accuracy: float) -> list[list[Op]]:
    """The paper's classifier: fit on the 80% split, then hold-out accuracy."""

    def frames(ctx):
        train_df, test_df = QM.split_frames(QM.training_frame(ctx.spark, sf_dir))
        # Standard MLlib practice: the forest scans its input once per level.
        return train_df.persist(), test_df

    def fit(ctx, frames):
        ctx.state["frames"] = frames
        ctx.state["model"] = MLP.train(QM.SPEC, frames[0])

    def evaluate(ctx, _):
        train_df, test_df = ctx.state.pop("frames")
        try:
            return MLP.evaluate_accuracy(ctx.state.pop("model"), test_df)
        finally:
            train_df.unpersist()

    def check_accuracy(ctx, acc):
        if acc != expected_accuracy:
            raise CheckFailed(f"accuracy {acc!r} != recorded {expected_accuracy!r}")

    train = Op("ml_train", "ml", sf_dir, build=frames, execute=fit,
               inputs=("orders", "lineitem"))
    evaluate_op = Op("ml_evaluate", "ml", sf_dir, build=lambda ctx: None, execute=evaluate,
                     check=check_accuracy, after=check_accuracy, inputs=())
    return [[train, evaluate_op]]


# -------------------------------------------------------------- workloads


def build(name: str) -> Workload:
    if name == "queries_drain_sf0.01":
        ops = [query_op(q, SF001) for q in HEADLINE_CUT]
        ops += [stream_op(c, SF001) for c in STREAM_CASES]
        return Workload(name, [[op] for op in ops], passes=3)
    if name == "rf_train_sf0.001":
        return Workload(name, ml_units(SF0001, RF_ACCURACY_SF0001))
    raise KeyError(name)


NAMES = ["queries_drain_sf0.01", "rf_train_sf0.001"]
