"""Physical-plan assertions — the plans we ship are the plans we designed
(SURVEY.md §4): filters reach the parquet scan, small dims broadcast, the
annotate UDF evaluates exactly once, html never crosses the shuffle."""

import pytest
from pyspark.sql import functions as F


def executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_to_scan(spark, sf_dir):
    from language_detection_spark.queries import queries

    df = queries()["lang_keep_filter"](spark, sf_dir)
    plan = executed_plan(df)
    assert "PushedFilters: [" in plan
    assert "n_chars" in plan.split("PushedFilters:")[1][:200]


def test_column_pruning(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    plan = executed_plan(docs)
    rs = plan.split("ReadSchema:")[1][:120]
    assert "doc_id" in rs and "text" not in rs


def test_broadcast_join_in_region_query(spark, sf_dir):
    from language_detection_spark.queries import queries

    plan = executed_plan(queries()["orders_by_region"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_annotate_udf_evaluates_once(spark, tiny_model):
    from language_detection_spark.operators.udfs import make_annotate_udf

    df = spark.createDataFrame(
        [("u1", "the cat sat")], "url string, text string"
    )
    ann = make_annotate_udf(tiny_model, spark)("url", "text")
    out = df.withColumn("_a", ann).select(
        "url", "_a.lang", "_a.lang_conf", "_a.ppl"
    )
    plan = executed_plan(out)
    assert plan.count("ArrowEvalPython") == 1


@pytest.mark.parametrize("factory", ["make_detect_udf", "make_annotate_udf"])
def test_udf_command_excludes_model(spark, factory):
    """The UDF closes over the model's broadcast handle, not the model:
    PySpark pickles the function into every task's command, and a command
    over 1 MB is broadcast and unpickled again in each task."""
    import inspect

    from pyspark import cloudpickle

    from language_detection_spark.models.factory import load_default_model
    from language_detection_spark.operators import udfs

    apply = getattr(udfs, factory)(load_default_model(), spark)
    func = inspect.getclosurevars(apply).nonlocals["f"].func
    assert len(cloudpickle.dumps(func)) < 1 << 20


def test_html_projected_away_before_shuffle(spark, tiny_model, sf_dir):
    from language_detection_spark.operators.pipeline import (
        PipelineOptions,
        QualityFilterPipeline,
    )
    from language_detection_spark.sources.pages import synth_pages_df

    pages = synth_pages_df(spark, sf_dir)
    pipe = QualityFilterPipeline(
        spark, tiny_model, opts=PipelineOptions(n_buckets=8, repartition=4)
    )
    plan = executed_plan(pipe.annotate(pages))
    # the exchange operates on a projection without the html column
    exchange_idx = plan.find("Exchange")
    assert exchange_idx > 0
    assert "html" not in plan[exchange_idx : exchange_idx + 800]


def test_whole_stage_codegen_covers_rules(spark, sf_dir):
    from language_detection_spark.operators.quality import (
        QualityConfig,
        rule_columns,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = rule_columns(docs, QualityConfig(), "text")
    plan = executed_plan(df)
    # "*(n)" prefixes mark whole-stage-codegen spans in the plan string
    assert "*(" in plan
    assert "ArrowEvalPython" not in plan  # rules are pure expressions


def test_salted_repartition_balances_skew(spark):
    """Runtime skew check: input clustered on one host key still spreads
    uniformly over tasks after the salted repartition (Q6)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from language_detection_spark.plans.repartition import salted_repartition

    # 90% of rows from one "host" — the host-level skew the north rule
    # calls out
    urls = [f"https://bighost.example/{i}" for i in range(900)] + [
        f"https://host{i}.example/x" for i in range(100)
    ]
    df = spark.createDataFrame(pd.DataFrame({"url": urls})).coalesce(1)
    out = salted_repartition(df, 8, "url")
    sizes = (
        out.groupBy(F.spark_partition_id().alias("pid"))
        .count()
        .collect()
    )
    counts = [r["count"] for r in sizes]
    assert len(counts) == 8
    assert max(counts) < 2.0 * (1000 / 8)  # no partition holds the hot host


def test_sessionize_batch_single_exchange(spark, sf_dir):
    """Gaps-and-islands sessionization must plan as ONE hash exchange on
    user_id with one sort and both window functions fused — a second
    exchange/sort would double the dominant shuffle at 10^12 events.  The
    scan must also prune to the three referenced columns."""
    from language_detection_spark.streaming.sessionize import sessionize_batch

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    plan = (
        sessionize_batch(ev)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning(user_id") == 1, plan[:3000]
    assert plan.count("+- Sort ") == 1, plan[:3000]
    assert plan.count("Window") == 2
    assert "event_type" not in plan and "props" not in plan  # pruned


def test_repetition_stats_stays_jvm_side(spark, sf_dir):
    # the Gopher repetition signals must remain pure expressions — no
    # Python evaluation anywhere in the plan, partial aggregation present
    from language_detection_spark.queries import queries

    plan = executed_plan(queries()["repetition_stats"](spark, sf_dir))
    assert "EvalPython" not in plan
    assert "partial_count" in plan or "HashAggregate" in plan


def test_cap_per_source_uses_salted_partial_rank(spark, sf_dir):
    # phase-1 window must partition by (source, salt), never source alone
    # as the only window — the global-window funnel is the anti-pattern
    from language_detection_spark.queries import queries

    plan = executed_plan(queries()["source_capped_docs"](spark, sf_dir))
    assert "_salt" in plan
    assert "EvalPython" not in plan
