"""The chunked byte-DFA walk of LangIdV3 against the per-document walk it
replaced (kept below as the reference).  The chunked walk starts each
fixed-width chunk ``max_depth`` bytes early from state 0; these tests pin
exact per-doc feature counts and exact ``classify_batch`` outputs at the
chunk edges, across multi-byte characters, on empty input, on a subset
model and on one huge doc among short ones.  Pure numpy, no Spark."""

import numpy as np
import pytest

from language_detection_spark.operators.langid_v3 import _CHUNK, LangIdV3

W = _CHUNK

ENGLISH = (
    "the quick brown fox jumps over the lazy dog while language detection "
    "reads every byte of this sentence and counts the features it finds. "
)


def per_position_walk(model, texts):
    """The previous walk: pad the batch to (n_docs, longest doc) and step
    every doc through every column, masking the finished ones."""
    m = model
    bs = [t.encode("utf-8") if t else b"" for t in texts]
    n = len(bs)
    maxlen = max((len(b) for b in bs), default=0)
    if maxlen == 0:
        return np.empty(0, np.int64), np.empty(0, np.int32), np.zeros(n, bool)
    B = np.zeros((n, maxlen), dtype=np.int32)
    mask = np.zeros((n, maxlen), dtype=bool)
    for i, b in enumerate(bs):
        if b:
            B[i, : len(b)] = np.frombuffer(b, dtype=np.uint8)
            mask[i, : len(b)] = True
    states = np.zeros(n, dtype=np.int32)
    S = np.zeros((n, maxlen), dtype=np.int32)
    for j in range(maxlen):
        states = np.where(mask[:, j], m.dsa[(states << 8) + B[:, j]], states)
        S[:, j] = states
    lens = np.where(mask, m.out_len[S], 0)
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, np.int64), np.empty(0, np.int32), mask.any(axis=1)
    flat_lens = lens.ravel()
    nz = np.flatnonzero(flat_lens)
    ls = flat_lens[nz]
    starts = m.out_off[S.ravel()[nz]]
    idx = np.repeat(starts, ls) + (np.arange(total) - np.repeat(np.cumsum(ls) - ls, ls))
    return np.repeat(nz // maxlen, ls), m.out_val[idx], mask.any(axis=1)


class PerPositionLangIdV3(LangIdV3):
    def _feature_counts(self, texts):
        return per_position_walk(self.model, texts)


@pytest.fixture(scope="module")
def lid():
    return LangIdV3()


def counts(lid, result, n):
    doc_ids, feats, has_bytes = result
    F = lid.model.n_features
    return np.bincount(doc_ids * F + feats, minlength=n * F).reshape(n, F), has_bytes


def assert_same(lid, texts):
    got, got_bytes = counts(lid, lid._feature_counts(texts), len(texts))
    want, want_bytes = counts(lid, per_position_walk(lid.model, texts), len(texts))
    assert np.array_equal(got_bytes, want_bytes)
    bad = np.flatnonzero((got != want).any(axis=1))
    assert bad.size == 0, [len((texts[i] or "").encode()) for i in bad]
    ref = PerPositionLangIdV3(lid.model)
    for mode in (False, True):
        langs, conf = lid.classify_batch(texts, unknown_on_featureless=mode)
        ref_langs, ref_conf = ref.classify_batch(texts, unknown_on_featureless=mode)
        assert langs == ref_langs
        assert np.array_equal(conf.view(np.int64), ref_conf.view(np.int64))


def ascii_doc(length, shift):
    text = (ENGLISH * (length // len(ENGLISH) + 2))[shift : shift + length]
    assert len(text.encode()) == length
    return text


def test_bundled_model_depth(lid):
    assert lid.model.max_depth == 4


def test_lengths_around_chunk_edges(lid):
    D = lid.model.max_depth
    lengths = list(range(W - D - 1, W + D + 2)) + [2 * W - 1, 2 * W + 1]
    # every alignment of the text against the chunk edge, so features end
    # on, just before and just after each boundary
    texts = [ascii_doc(n, s) for n in lengths for s in range(0, 24, 3)]
    assert_same(lid, texts)


@pytest.mark.parametrize("char", ["語", "😀", "é"])
def test_multibyte_chars_straddle_chunk_boundary(lid, char):
    texts = [
        "a" * k + (char * 3) + " " + ascii_doc(40, 5)
        for k in list(range(W - 5, W + 2)) + list(range(2 * W - 5, 2 * W + 2))
    ]
    texts += ["日本語の文章です。" * 20, "😀 emoji " * 30]
    assert_same(lid, texts)


def test_empty_and_none(lid):
    assert_same(lid, ["", None, ascii_doc(70, 0), "", None, "12 34"])
    assert_same(lid, ["", None, ""])
    doc_ids, feats, has_bytes = lid._feature_counts(["", None])
    assert doc_ids.size == 0 and feats.size == 0
    assert not has_bytes.any()
    assert_same(lid, [])


def test_subset_model(lid):
    sub = LangIdV3(lid.model.subset(["en", "fr", "de", "ja"]))
    assert sub.model.max_depth == lid.model.max_depth
    assert_same(sub, [ascii_doc(n, 7) for n in (W - 1, W, W + 1, 3 * W)]
                + ["Ceci est une phrase en français.", "日本語の文章です。"])


def test_huge_doc_among_short_docs(lid):
    huge = ascii_doc(200_000, 11)
    texts = [ascii_doc(n, n % 17) for n in (5, 60, 64, 65, 300)]
    texts.insert(2, huge)
    assert_same(lid, texts)
