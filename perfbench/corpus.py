"""Seeded multilingual text corpus for the benchmark.

The program only ever sees the parquet this module writes.  Texts are
recombined from short same-language spans (1-4 words, or 2-12 characters
for ``zh-*`` and ``ja``) of per-language source streams, so unrelated
documents share no long runs.  Each stream is a character chain sampled
from the bundled detector profiles' 1/2/3-gram counts (trigram
continuation, backing off to bigram and unigram counts where the profile
was trimmed).

Length mix: log-normal body lengths (fixed quantiles scaled to a fixed
mean), plus a small share of documents over 10k characters (past the
detector's scan cap) and of empty/featureless documents (whitespace,
digits, punctuation).  About one document in eight carries a PII token
(email, phone, IP or URL) so the scrub chain has matches to rewrite.
Apart from the empty strings, every text is distinct.

The language shares, the length distribution and the shares of huge,
featureless and PII documents are arbitrary choices, not statistics of a
measured web sample: they fix the amount and kind of work per run, and
they decide how much of the corpus the ``lang_allow=("en",)`` filter keeps
for the scrub.  Changing them changes what ``docs_per_s`` measures.

``planted=True`` (the checkpoint/dedup corpus of the traced run) appends
exact copies and near-duplicates (a few words substituted) of long English
documents and returns the ground-truth pairs.  It also appends a
boilerplate hub: ``HUB_DOCS`` copies of one long English document, each
with its own trailing token, so that the LSH buckets of the hub hold more
documents than the dedup's ``max_bucket_size`` (1000) and are dropped.

Same seed, same bytes: every draw comes from ``random.Random`` seeded from
the workload seed, and the parquet is written with fixed options.
"""

from __future__ import annotations

import json
import random
from bisect import bisect
from datetime import datetime, timedelta
from importlib import resources
from itertools import accumulate
from math import exp
from statistics import NormalDist

# share of documents per bundled profile (arbitrary, see the module docstring)
LANG_MIX = {
    "en": 0.45, "de": 0.07, "fr": 0.06, "es": 0.06, "ru": 0.06, "ja": 0.05,
    "zh-cn": 0.05, "pt": 0.04, "it": 0.03, "nl": 0.03, "pl": 0.03,
    "ar": 0.02, "ko": 0.02, "tr": 0.02, "vi": 0.01,
}
CHAR_SPAN_LANGS = ("zh-cn", "zh-tw", "ja")
STREAM_CHARS = 12_000
MEAN_LEN = 740             # mean body length of the other text documents
HUGE_FRAC = 0.015          # documents over 10k chars
FEATURELESS_FRAC = 0.02    # empty / whitespace / digits / punctuation
PII_FRAC = 0.125
N_FILES = 8
EXACT_DUP_FRAC = 0.02      # planted corpus only, per base document
NEAR_DUP_FRAC = 0.02
HUB_DOCS = 1200            # planted corpus only: > max_bucket_size in a band bucket


def _profile(lang: str) -> dict[str, int]:
    root = resources.files("language_detection_spark.data").joinpath("profiles")
    return json.loads(root.joinpath(lang).read_text(encoding="utf-8"))["freq"]


def _table(pairs) -> tuple[list[str], list[int]]:
    items = sorted(pairs)
    return [c for c, _ in items], list(accumulate(n for _, n in items))


def language_stream(lang: str, rng: random.Random, n_chars: int = STREAM_CHARS) -> str:
    """Sample ``n_chars`` characters from a back-off character chain over
    the language profile's n-gram counts."""
    freq = _profile(lang)
    tri: dict[str, list] = {}
    bi: dict[str, list] = {}
    for g, n in freq.items():
        if len(g) == 3:
            tri.setdefault(g[:2], []).append((g[2], n))
        elif len(g) == 2:
            bi.setdefault(g[0], []).append((g[1], n))
    tri_t = {k: _table(v) for k, v in tri.items()}
    bi_t = {k: _table(v) for k, v in bi.items()}
    uni_t = _table((g, n) for g, n in freq.items() if len(g) == 1 and g != " ")
    out = [" "]
    prev = " "
    for _ in range(n_chars):
        t = tri_t.get(prev + out[-1])
        if t is None or rng.random() < 0.1:
            t = bi_t.get(out[-1], uni_t)
        chars, cum = t
        c = chars[bisect(cum, rng.random() * cum[-1])]
        if c == out[-1] and (c == " " or c == prev):
            # no double spaces, no runs of three (sparse CJK tables loop)
            c = uni_t[0][bisect(uni_t[1], rng.random() * uni_t[1][-1])]
        prev = out[-1]
        out.append(c)
    return "".join(out).strip()


def _tokens(stream: str, char_spans: bool) -> list[str]:
    return list(stream.replace(" ", "")) if char_spans else stream.split()


def _span(tokens: list[str], rng: random.Random, char_spans: bool) -> str:
    n = rng.randrange(2, 13) if char_spans else rng.randrange(1, 5)
    lo = rng.randrange(0, len(tokens) - n)
    return ("" if char_spans else " ").join(tokens[lo:lo + n])


def _pii(rng: random.Random, i: int) -> str:
    kind = rng.randrange(4)
    if kind == 0:
        return f"contact{i}@mail{rng.randrange(100)}.example.com"
    if kind == 1:
        return f"+1 ({rng.randrange(200, 999)}) 555-{rng.randrange(10000):04d}"
    if kind == 2:
        return f"10.{rng.randrange(256)}.{rng.randrange(256)}.{rng.randrange(256)}"
    return f"https://site{rng.randrange(1000)}.example/page/{i}"


def _featureless(rng: random.Random, i: int) -> str:
    kind = rng.randrange(4)
    if kind == 0:
        return ""
    if kind == 1:
        ws = []
        while True:  # base-3 digits of i as space/tab/newline: distinct
            i, d = divmod(i, 3)
            ws.append(" \t\n"[d])
            if not i:
                return " " + "".join(ws)
    if kind == 2:
        return " ".join(str(rng.randrange(10 ** 6)) for _ in range(1 + i % 20)) + f" #{i}"
    return "".join(rng.choice("-=*#|/.,;:!?") for _ in range(5 + i % 40)) + str(i)


def _body(tokens: list[str], lang: str, length: int, rng: random.Random) -> str:
    char_spans = lang in CHAR_SPAN_LANGS
    sep = "" if char_spans else " "
    parts: list[str] = []
    left = length
    while left > 0:
        piece = _span(tokens, rng, char_spans)
        parts.append(piece)
        parts.append("\n" if rng.random() < 0.02 else sep)
        left -= len(piece) + 1
    return "".join(parts[:-1])


def _doc_plan(n_docs: int, rng: random.Random) -> list[tuple[str, int]]:
    """(language, body length) per document.  The lengths are fixed
    quantiles of the length distribution, dealt to languages in length
    order by a fixed interleaving, so every language gets the same mix of
    long and short documents; the seed only shuffles the documents.  Seeds
    therefore differ in content and order, not in the amount of work."""
    n_none = round(FEATURELESS_FRAC * n_docs)
    n_huge = round(HUGE_FRAC * n_docs)
    n_text = n_docs - n_none
    n_normal = n_text - n_huge
    normal = [exp(6.2 + 0.9 * NormalDist().inv_cdf((k + 0.5) / n_normal)) for k in range(n_normal)]
    scale = MEAN_LEN * n_normal / sum(normal) if normal else 1.0
    lengths = sorted(
        [10_500 + k * 9_500 // max(1, n_huge - 1) for k in range(n_huge)]
        + [int(min(9_000, max(40, x * scale))) for x in normal],
        reverse=True,
    )
    dealt = dict.fromkeys(LANG_MIX, 0)
    plan = []
    for i, length in enumerate(lengths):
        lang = max(LANG_MIX, key=lambda l: LANG_MIX[l] * (i + 1) - dealt[l])
        dealt[lang] += 1
        plan.append((lang, length))
    plan += [("none", 0)] * n_none
    rng.shuffle(plan)
    return plan


def generate(n_docs: int, seed: int, planted: bool = False):
    """Return (rows, truth): rows are (url, warc_ts, text) tuples in file
    order; truth lists the planted exact and near-duplicate url pairs."""
    rng = random.Random(seed)
    langs = list(LANG_MIX)
    tokens = {
        l: _tokens(language_stream(l, random.Random(f"{seed}:{l}")), l in CHAR_SPAN_LANGS)
        for l in langs
    }
    hosts = [f"www.host{h:04d}.example" for h in range(max(8, n_docs // 20))]
    base = datetime(2024, 1, 1)
    rows: list[tuple] = []
    seen: set[str] = set()
    plan = _doc_plan(n_docs, rng)
    doc_lang = [lang for lang, _ in plan]
    for i, (lang, length) in enumerate(plan):
        if lang == "none":
            text = _featureless(rng, i)
        else:
            text = _body(tokens[lang], lang, length, rng)
            if rng.random() < PII_FRAC:
                words = text.split(" ")
                words.insert(rng.randrange(len(words) + 1), _pii(rng, i))
                text = " ".join(words)
            while text in seen:
                text += " " + _span(tokens[lang], rng, lang in CHAR_SPAN_LANGS)
        if text:
            seen.add(text)
        host = hosts[min(int(rng.paretovariate(1.2)) - 1, len(hosts) - 1)]
        url = f"https://{host}/p/{i:08d}-{rng.getrandbits(32):08x}"
        rows.append((url, base + timedelta(seconds=i), text))
    truth = {"exact": [], "near": [], "hub": []}
    if planted:
        long_en = [
            i for i, (l, r) in enumerate(zip(doc_lang, rows))
            if l == "en" and len(r[2].split()) >= 150
        ]
        n_exact = max(1, int(EXACT_DUP_FRAC * n_docs))
        n_near = max(1, int(NEAR_DUP_FRAC * n_docs))
        picks = rng.sample(long_en, min(len(long_en), n_exact + n_near))
        vocab = tokens["en"]
        for k, src in enumerate(picks):
            url_a, _, text = rows[src]
            url_b = f"https://dup.example/{k:06d}-{rng.getrandbits(32):08x}"
            if k < n_exact:
                truth["exact"].append([url_a, url_b])
            else:
                words = text.split(" ")
                for pos in rng.sample(range(len(words)), max(2, len(words) // 60)):
                    words[pos] = rng.choice(vocab)
                text = " ".join(words)
                truth["near"].append([url_a, url_b])
            rows.append((url_b, base + timedelta(seconds=n_docs + k), text))
        # one appended token changes one 3-word shingle of a long text, so
        # nearly every copy shares every band hash with the others
        url_h, _, text = rows[next((i for i in long_en if i not in picks), long_en[0])]
        truth["hub"].append(url_h)
        for k in range(HUB_DOCS):
            url = f"https://hub.example/{k:06d}-{rng.getrandbits(32):08x}"
            truth["hub"].append(url)
            rows.append((url, base + timedelta(seconds=2 * n_docs + k), f"{text} ref{k}"))
    return rows, truth


def write_corpus(out_dir: str, n_docs: int, seed: int, planted: bool = False) -> dict:
    """Write ``pages.parquet/`` (N_FILES files) and ``truth.json`` under
    ``out_dir``; return the rows and the ground truth."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    rows, truth = generate(n_docs, seed, planted)
    pages = os.path.join(out_dir, "pages.parquet")
    os.makedirs(pages, exist_ok=True)
    schema = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us")),
                        ("text", pa.string())])
    per = -(-len(rows) // N_FILES)
    for f in range(N_FILES):
        chunk = rows[f * per:(f + 1) * per]
        cols = [list(c) for c in zip(*chunk)] if chunk else [[], [], []]
        pq.write_table(pa.table(cols, schema=schema),
                       os.path.join(pages, f"part-{f:02d}.parquet"),
                       compression="snappy", write_statistics=True)
    with open(os.path.join(out_dir, "truth.json"), "w") as fh:
        json.dump(truth, fh)
    return rows, truth
