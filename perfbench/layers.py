"""Per-layer measurements for the traced run.

Everything here calls the program's public functions from the benchmark's
side; the program carries no instrumentation.  Spark layers are timed as
plan prefixes, each written to a ``noop`` sink under its own job group so
the event log attributes its stages.  Kernel layers call the in-UDF
functions in this process on one of the workload's Arrow-sized batches.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd  # module level: pandas_udf resolves the string type hints here

# kernel batch: a quarter of spark.sql.execution.arrow.maxRecordsPerBatch
# (4096), which keeps the traced run inside its time limit; per-document
# costs barely depend on batch size at this length
BATCH_ROWS = 1024


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Timer:
    """Times noop actions under job groups, keeping each action's plan."""

    def __init__(self, spark, tracer) -> None:
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.plans: dict[str, str] = {}
        self.runs: dict[str, int] = {}

    def __call__(self, group: str, df, repeat: int = 1) -> float:
        """Fastest of ``repeat`` noop writes of ``df`` (seconds).  ``df`` may
        be a callable building the frame; building is then timed too, for
        operators that run Spark actions while they construct their plan."""
        self.sc.setJobGroup(group, group)
        best = float("inf")
        try:
            for _ in range(repeat):
                with self.tracer.span(group):
                    t0 = time.perf_counter()
                    frame = df() if callable(df) else df
                    noop(frame)
                    best = min(best, time.perf_counter() - t0)
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.plans[group] = frame._jdf.queryExecution().executedPlan().toString()
        self.runs[group] = self.runs.get(group, 0) + repeat
        return best


def _const_udf():
    from pyspark.sql import functions as F

    from language_detection_spark.operators.udfs import ANNOTATE_SCHEMA

    def _const(batch: pd.DataFrame) -> pd.DataFrame:
        n = len(batch)
        return pd.DataFrame({"lang": ["en"] * n, "lang_conf": [1.0] * n, "ppl": [1.0] * n})

    f = F.pandas_udf(_const, ANNOTATE_SCHEMA).asNondeterministic()
    return lambda: f(F.struct(F.col("url").alias("url"), F.col("text").alias("text")))


def pipeline_prefixes(spark, model, cfg, opts, pages, timer: Timer) -> dict:
    """scan → salted exchange → Arrow serde → annotate UDF → rules → scrub,
    each layer the difference between two noop prefixes of the pipeline."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from language_detection_spark.operators.quality import (
        keep_column, lang_rule, rule_columns, scrub_pii, scrub_toxicity,
    )
    from language_detection_spark.operators.udfs import make_annotate_udf
    from language_detection_spark.plans.repartition import bucket_col, salted_repartition

    def det(df, udf):
        return df.withColumn("_det", udf).select(
            "*", "_det.lang_conf", "_det.ppl", F.col("_det.lang").alias("lang")
        ).drop("_det")

    p0 = pages.select("url", "warc_ts", "text")
    p1 = salted_repartition(p0.withColumn("bucket", bucket_col("url", opts.n_buckets)),
                            opts.repartition, "url", opts.seed_salt)
    p2 = det(p1, _const_udf()())
    annotate = make_annotate_udf(model, spark, opts.seed_salt, engine=opts.engine)
    p3 = det(p1, annotate("url", "text"))
    t0 = timer("scan", p0)
    t1 = timer("repartition", p1)
    t2 = timer("udf.serde", p2)
    t3 = timer("udf.annotate", p3)
    ann = p3.persist(StorageLevel.MEMORY_AND_DISK)
    timer("persist.annotated", ann)
    base = timer("read.annotated", ann)
    rules = lang_rule(rule_columns(ann, cfg, "text"), cfg)
    rules = rules.withColumn("keep", keep_column(rules))
    t_rules = timer("quality.rules", rules)
    kept = rules.filter(F.col("keep")).persist(StorageLevel.MEMORY_AND_DISK)
    timer("persist.kept", kept)
    kbase = timer("read.kept", kept)
    scrubbed = kept.withColumn("scrubbed_text", scrub_toxicity(scrub_pii(F.col("text")), cfg))
    t_scrub = timer("quality.scrub", scrubbed)
    kept.unpersist()
    ann.unpersist()
    return {
        "scan.wall_s": t0,
        "repartition.wall_s": t1 - t0,
        "udf.serde_s": t2 - t1,
        "udf.annotate_s": t3 - t2,
        "quality.rules_s": t_rules - base,
        "quality.scrub_s": t_scrub - kbase,
    }


def dedup_stages(spark, data_dir: str, timer: Timer, threshold: float = 0.8,
                 max_bucket_size: int = 1000) -> tuple[dict, set, set]:
    """The job's dedup family, stage by stage, over its committed kept rows
    (the same calls and defaults as ``jobs/run_pipeline._dedup_stage``).
    Returns the stage metrics, the exact-dedup survivors and the verified
    pairs (sorted url tuples)."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from language_detection_spark.operators.dedup import (
        banded_rows, connected_components, exact_dedup, jaccard_for_pairs,
        lsh_candidate_pairs, md5_int, minhash_signatures,
    )

    def keep(build, group):
        """Build, persist and materialize one stage; returns (frame, seconds)."""
        built = {}

        def make():
            built["df"] = build().persist(StorageLevel.MEMORY_AND_DISK)
            return built["df"]

        seconds = timer(group, make)
        return built["df"], seconds

    kept, _ = keep(lambda: spark.read.parquet(data_dir).filter(F.col("keep"))
                   .select("url", "bucket", "scrubbed_text"), "dedup.input")
    exact, t_exact = keep(lambda: exact_dedup(kept, text_col="scrubbed_text", id_col="url"),
                          "dedup.exact")
    sigs, t_sig = keep(lambda: minhash_signatures(exact, "scrubbed_text", "url", 16, 3),
                       "dedup.signature")
    cand, t_cand = keep(lambda: lsh_candidate_pairs(sigs, 4, 4, max_bucket_size),
                        "dedup.candidates")
    ver, t_ver = keep(lambda: jaccard_for_pairs(cand, exact, "scrubbed_text", "url", 3)
                      .filter(F.col("jaccard") >= threshold), "dedup.verify")
    edges = ver.select(md5_int(F.col("id_a")).alias("id_a"), md5_int(F.col("id_b")).alias("id_b"))
    # connected_components checkpoints and counts its input while it builds
    t_cc = timer("dedup.cc", lambda: connected_components(edges))
    n_cand = cand.count()
    pairs = {tuple(sorted(r)) for r in ver.select("id_a", "id_b").collect()}
    survivors = {r.url for r in exact.select("url").collect()}
    over = (banded_rows(sigs, 4, 4).groupBy("band", "band_hash").count()
            .filter(F.col("count") > max_bucket_size)
            .agg(F.count(F.lit(1)).alias("b"), F.sum("count").alias("m")).first())
    for df in (ver, cand, sigs, exact, kept):
        df.unpersist()
    n_ver = len(pairs)
    return {
        "dedup.exact_s": t_exact,
        "dedup.signature_s": t_sig,
        "dedup.candidates_s": t_cand,
        "dedup.verify_s": t_ver,
        "dedup.cc_s": t_cc,
        "dedup.candidate_pairs": n_cand,
        "dedup.verified_pairs": n_ver,
        "dedup.verify_yield": n_ver / n_cand if n_cand else 0.0,
        "dedup.capped_buckets": over["b"] or 0,
        "dedup.capped_members": over["m"] or 0,
    }, survivors, pairs


def _ms_per_kdoc(fn, n: int):
    t0 = time.perf_counter()
    out = fn()
    return (time.perf_counter() - t0) * 1e6 / n, out


def kernels(model, urls: list[str], texts: list[str], engine: str, tracer) -> dict:
    """The in-UDF kernels on the workload's first ``BATCH_ROWS`` documents,
    in this process.  Both engines' classifiers are timed on every workload
    (the corpus is the same); ``perplexity_many_from_keys`` scores the
    languages of the workload's ``engine``, as its UDF does."""
    from language_detection_spark.config import MAX_TEXT_LENGTH
    from language_detection_spark.functions.ngram import extract_gram_keys_batch
    from language_detection_spark.functions.normalize import prepare_text, purge_latin_if_minor
    from language_detection_spark.operators.detector import annotate_batch, doc_seed
    from language_detection_spark.operators.langid_v3 import LangIdV3
    from language_detection_spark.operators.perplexity import perplexity_many_from_keys

    urls, texts = urls[:BATCH_ROWS], texts[:BATCH_ROWS]
    n = len(texts)
    out: dict[str, float] = {}
    with tracer.span("kernel.normalize"):
        out["normalize.ms_per_kdoc"], prepared = _ms_per_kdoc(
            lambda: [purge_latin_if_minor(prepare_text(t, MAX_TEXT_LENGTH)) for t in texts], n)
    out["detector.batch_dup_ratio"] = 1.0 - len(set(prepared)) / n
    with tracer.span("kernel.ngram"):
        out["ngram.ms_per_kdoc"], keys = _ms_per_kdoc(lambda: extract_gram_keys_batch(prepared), n)
    allkeys = np.concatenate(keys) if keys else np.empty(0, np.int64)
    out["ngram.keys_per_doc"] = allkeys.size / n
    with tracer.span("kernel.lookup"):
        out["factory.lookup_ms_per_kdoc"], rows = _ms_per_kdoc(
            lambda: model.lookup_rows(allkeys), n)
    out["factory.lookup_hit_ratio"] = float((rows >= 0).mean()) if rows.size else 0.0
    with tracer.span("kernel.annotate"):
        out["detector.annotate_ms_per_kdoc"], (sampled, _, _) = _ms_per_kdoc(
            lambda: annotate_batch(model, texts, [doc_seed(u) for u in urls]), n)
    out["detector.unknown_frac"] = sum(l == "unknown" for l in sampled) / n
    with tracer.span("kernel.langid_v3"):
        out["langid_v3.ms_per_kdoc"], (v3, _) = _ms_per_kdoc(
            lambda: LangIdV3().classify_batch(texts, unknown_on_featureless=True), n)
    index = {l: i for i, l in enumerate(model.langs)}
    idx = np.array([index.get(l, -1) for l in (v3 if engine == "langid_v3" else sampled)])
    with tracer.span("kernel.perplexity"):
        out["perplexity.ms_per_kdoc"], _ = _ms_per_kdoc(
            lambda: perplexity_many_from_keys(model, keys, idx), n)
    out["detector.sampling_ms_per_kdoc"] = out["detector.annotate_ms_per_kdoc"] - (
        out["normalize.ms_per_kdoc"] + out["ngram.ms_per_kdoc"] + out["perplexity.ms_per_kdoc"])
    return out


def files_and_bytes(*dirs: str) -> tuple[int, int]:
    n = size = 0
    for d in dirs:
        for root, _, files in os.walk(d):
            for f in files:
                if f.endswith(".parquet"):
                    n += 1
                    size += os.path.getsize(os.path.join(root, f))
    return n, size
