"""Arrow-vectorized UDF surface (SURVEY.md §2.8) — the only places per-row
compute crosses into Python, all pandas/Arrow batched (no per-row Python
UDFs anywhere, per the engine contract):

1. ``extract_text_udf``                 html → text          (P7)
2. ``make_annotate_udf(model, spark)``  (url, text) → struct(lang, lang_conf, ppl)
                                        wrapping P1-P6 + F1-F2 + I1-I4 + Q2
3. ``make_detect_udf(model, spark)``    (url, text) → struct(lang, lang_conf)

The detector model rides a Spark broadcast made when the UDF is built.
The UDF closes over the broadcast handle only, so the pickled command
stays small: a closure over the model itself would put the whole model
(~37 MB for the bundled profiles) into the command, which PySpark then
ships and unpickles again in every task.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from ..models.factory import DetectorModel
from .detector import annotate_batch, detect_batch, doc_seed

DETECT_SCHEMA = StructType(
    [
        StructField("lang", StringType()),
        StructField("lang_conf", DoubleType()),
    ]
)

ANNOTATE_SCHEMA = StructType(
    [
        StructField("lang", StringType()),
        StructField("lang_conf", DoubleType()),
        StructField("ppl", DoubleType()),
    ]
)


def extract_text_udf():
    from ..sources.pages import extract_text

    @F.pandas_udf(StringType())
    def _extract(htmls: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for batch in htmls:
            yield batch.map(extract_text)

    return _extract


def _seeds_for(urls: pd.Series, texts: pd.Series, salt: int) -> list[int]:
    # per-document deterministic seed: url when present, else the text
    out = []
    for u, t in zip(urls, texts):
        key = u if isinstance(u, str) and u else (t or "")
        out.append(doc_seed(key, salt))
    return out


def make_detect_udf(model: DetectorModel, spark, seed_salt: int = 0):
    bc = spark.sparkContext.broadcast(model)

    def _detect(batch: pd.DataFrame) -> pd.DataFrame:
        m = bc.value
        texts = batch["text"]
        seeds = _seeds_for(batch["url"], texts, seed_salt)
        langs, confs, _ = detect_batch(m, list(texts), seeds)
        return pd.DataFrame({"lang": langs, "lang_conf": confs})

    # asNondeterministic stops CollapseProject from inlining (and thus
    # RE-EVALUATING) the UDF once per extracted struct field — without it a
    # select of lang + lang_conf runs the detector twice per row
    f = F.pandas_udf(_detect, DETECT_SCHEMA).asNondeterministic()

    def apply(url_col="url", text_col="text"):
        return f(F.struct(F.col(url_col).alias("url"), F.col(text_col).alias("text")))

    return apply


def make_annotate_udf(model: DetectorModel, spark, seed_salt: int = 0,
                      lm_alpha: float = 0.1, engine: str = "sampling"):
    """Single Arrow crossing computing langid + confidence + perplexity.

    ``engine``:
      * "sampling"  — the reference-faithful random-feature-sampling NB
        (bit-parity with the reference's Detector).
      * "langid_v3" — the deterministic byte-DFA NB with the reference's
        real langid.py model; perplexity still comes from the profile LM
        when the predicted language has a profile.  Its classifier kernel
        costs ~0.21 ms/doc, against ~1.1 ms/doc for the sampling
        engine's whole ``annotate_batch`` (traced ``perfbench/`` run,
        4 vCPUs).
    """
    bc = spark.sparkContext.broadcast(model)

    def _annotate(batch: pd.DataFrame) -> pd.DataFrame:
        m = bc.value
        texts = list(batch["text"])
        if engine == "langid_v3":
            from .langid_v3 import LangIdV3
            from .perplexity import perplexity_batch

            lid = LangIdV3()
            # unknown_on_featureless: both pipeline engines must agree on
            # empty/featureless docs (lang drives rule_language)
            langs, confs = lid.classify_batch(texts, unknown_on_featureless=True)
            lang_to_idx = {l: i for i, l in enumerate(m.langs)}
            idxs = [lang_to_idx.get(l, -1) for l in langs]
            ppl = perplexity_batch(m, texts, idxs, alpha=lm_alpha)
        else:
            seeds = _seeds_for(batch["url"], batch["text"], seed_salt)
            langs, confs, ppl = annotate_batch(m, texts, seeds, lm_alpha=lm_alpha)
        return pd.DataFrame(
            {
                "lang": langs,
                "lang_conf": confs,
                "ppl": [None if np.isnan(p) else float(p) for p in ppl],
            }
        )

    # see make_detect_udf: prevents one-UDF-eval-per-extracted-field
    f = F.pandas_udf(_annotate, ANNOTATE_SCHEMA).asNondeterministic()

    def apply(url_col="url", text_col="text"):
        return f(F.struct(F.col(url_col).alias("url"), F.col(text_col).alias("text")))

    return apply
