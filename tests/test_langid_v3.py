"""LangIdV3 (real langid.lzma model) tests: npz load, classification,
rank, subset projection (Model.java:110-142 semantics), batch equality,
and — when a JDK is present — label parity against the reference's own
compiled LangIdV3 (mirrors TestModel.java / TestLangIdV3.java)."""

import base64
import pathlib
import shutil
import subprocess

import numpy as np
import pytest

from language_detection_spark.operators.langid_v3 import LangIdModel, LangIdV3

SAMPLES = {
    "en": "This is an English sentence about language detection and text.",
    "fr": "Ceci est une phrase en français sur la détection de la langue.",
    "de": "Das ist ein deutscher Satz über die Erkennung der Sprache.",
    "ja": "これは言語判定についての日本語の文章です。",
    "ru": "Это русское предложение об определении языка текста.",
}


@pytest.fixture(scope="module")
def lid():
    return LangIdV3()


def test_model_loads(lid):
    m = lid.model
    assert len(m.langs) == 97
    assert m.n_features == 7480
    assert m.ptc_fc.shape == (7480, 97)


def test_classify_samples(lid):
    langs, confs = lid.classify_batch(list(SAMPLES.values()))
    assert langs == list(SAMPLES.keys())
    assert (confs > 0.99).all()


def test_rank_full(lid):  # I8: rank over all languages
    ranks = lid.rank(SAMPLES["en"])
    assert len(ranks) == 97
    best = max(ranks, key=lambda kv: kv[1])
    assert best[0] == "en"


def test_subset_projection(lid):  # TestModel.java:34-52 semantics
    sub = LangIdV3(lid.model.subset(["en", "fr", "de"]))
    langs, _ = sub.classify_batch([SAMPLES["en"], SAMPLES["fr"], SAMPLES["de"]])
    assert langs == ["en", "fr", "de"]
    with pytest.raises(ValueError):
        lid.model.subset(["en"])


def test_batch_matches_single(lid):  # TestLangIdV3.java append-paths spirit
    texts = list(SAMPLES.values()) + ["", "12 34", "😀"]
    langs, confs = lid.classify_batch(texts)
    for t, l, c in zip(texts, langs, confs):
        sl, sc = lid.classify(t)
        assert sl == l
        assert sc == pytest.approx(c, abs=1e-12)


requires_jdk = pytest.mark.skipif(
    shutil.which("javac") is None
    or not pathlib.Path("/root/reference/src/main/java").is_dir(),
    reason="needs a JDK and the reference sources",
)


@requires_jdk
def test_java_langid_parity(lid, tmp_path):
    root = pathlib.Path(__file__).resolve().parents[1]
    build = tmp_path / "classes"
    build.mkdir()
    srcs = (
        [str(p) for p in pathlib.Path(
            "/root/reference/src/main/java/com/carrotsearch/labs/lzma"
        ).glob("*.java")]
        + [str(p) for p in pathlib.Path(
            "/root/reference/src/main/java/com/carrotsearch/labs/langid"
        ).glob("*.java")]
        + [str(root / "tools/java_parity/stubs/javax/annotation/Nonnull.java"),
           str(root / "tools/java_parity/stubs/javax/annotation/Nullable.java"),
           str(root / "tools/java_parity/langid/com/carrotsearch/labs/langid/DumpLangidModel.java")]
    )
    subprocess.run(["javac", "-encoding", "utf-8", "-d", str(build)] + srcs,
                   check=True, capture_output=True)
    res = build / "com/carrotsearch/labs/langid/langid.lzma"
    shutil.copy(
        "/root/reference/src/main/resources/com/carrotsearch/labs/langid/langid.lzma",
        res,
    )
    texts = list(SAMPLES.values()) * 4 + ["short", "1 2 3", "αβγ ελληνικά κείμενο"]
    tf = tmp_path / "texts.b64"
    tf.write_text("\n".join(base64.b64encode(t.encode()).decode() for t in texts))
    proc = subprocess.run(
        ["java", "-cp", str(build), "com.carrotsearch.labs.langid.DumpLangidModel",
         str(tmp_path / "model.bin"), str(tf)],
        capture_output=True, text=True, check=True,
    )
    java = {}
    for line in proc.stdout.splitlines():
        i, lang, conf = line.split("\t")
        java[int(i)] = (lang, float(conf))
    langs, confs = lid.classify_batch(texts)
    for i in range(len(texts)):
        assert java[i][0] == langs[i], (i, texts[i], java[i], langs[i])
        assert confs[i] == pytest.approx(java[i][1], abs=1e-4)


def test_featureless_docs_unknown(lid):
    """unknown_on_featureless=True (the pipeline mode): empty/featureless
    docs → ('unknown', 0.0), matching the sampling engine.  The default
    stays reference-faithful (argmax of class prior) — parity-tested
    against the compiled Java in test_java_langid_parity."""
    texts = ["", "short", "hello world how are you today"]
    langs, conf = lid.classify_batch(texts, unknown_on_featureless=True)
    assert langs[0] == "unknown" and conf[0] == 0.0
    assert langs[1] == "unknown" and conf[1] == 0.0  # no DFA features
    assert langs[2] == "en" and conf[2] > 0.5
    # default mode: faithful (featureless -> prior argmax, nonzero conf)
    dlangs, dconf = lid.classify_batch(texts)
    assert dlangs[1] == "en" and dconf[1] > 0.0
    # batch of only-empty exercises the maxlen==0 early return
    langs2, conf2 = lid.classify_batch(["", ""], unknown_on_featureless=True)
    assert langs2 == ["unknown", "unknown"]
    assert (conf2 == 0.0).all()


def test_pure_python_lzma_reader_roundtrip():
    """models/langid_lzma.py (standard .lzma + minimal Java-serialization
    parser) reproduces the committed npz arrays EXACTLY — the npz can
    regenerate without a JDK (tools/gen_langid_npz.py)."""
    import os

    import numpy as np

    from language_detection_spark.models.langid_lzma import load_model
    from language_detection_spark.operators.langid_v3 import LangIdModel

    src = (
        "/root/reference/src/main/resources/com/carrotsearch/labs/langid/"
        "langid.lzma"
    )
    if not os.path.exists(src):
        pytest.skip("reference langid.lzma not available")
    m = load_model(src)
    ref = LangIdModel.load_npz()
    assert m.langs == ref.langs
    for attr in ("ptc_fc", "pc", "dsa", "out_off", "out_len", "out_val"):
        assert np.array_equal(getattr(m, attr), getattr(ref, attr)), attr


def test_golden_outputs(lid):
    """Bit-exact outputs pinned offline: (lang, float.hex(conf)) in both
    featureless modes, and rank(), as the per-document byte walk (which
    stepped every doc over the batch's longest doc) computed them.  The
    file is a fixed record of that walk; do not regenerate it from the
    code under test."""
    import json

    golden = json.loads(
        (pathlib.Path(__file__).parent / "data/langid_v3_golden.json")
        .read_text(encoding="utf-8")
    )
    texts = golden["texts"]
    for mode in (False, True):
        langs, confs = lid.classify_batch(texts, unknown_on_featureless=mode)
        got = [[l, float(c).hex()] for l, c in zip(langs, confs)]
        assert got == golden["classify"][str(mode).lower()], mode
    with np.errstate(over="ignore"):  # far-behind classes: exp overflows to 0 conf
        for r in golden["rank"]:
            got = [[l, float(c).hex()] for l, c in lid.rank(r["text"])]
            assert got == r["ranks"], r["text"][:40]
