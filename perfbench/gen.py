"""Seeded inputs for the benchmark: corpus, append segments, query pools.

The corpus follows the same distribution as the engine's test corpus
(Zipf vocabulary of 5,000 terms with three hot stopword-like terms,
planted mid-df terms, a one-doc rare term, mixed case, punctuation, and
HTML that wraps the escaped text in tags, scripts, styles and comments so
that extracting the HTML gives back exactly ``text``; plus fixed edge
docs). It is written out here rather than imported, so that an edit to the
engine's own fixtures cannot change what the benchmark measures. The
engine only ever sees the parquet files and query strings made here.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HOT = ["the", "and", "of"]
PLANTED = [
    "biology", "chemistry", "physics", "quantum", "neural",
    "spark", "index", "query", "tokyo", "glacier",
]
RARE = "zyzzyva"
VOCAB = HOT + PLANTED + [f"w{i:04d}" for i in range(5000 - len(HOT) - len(PLANTED))]
LANGS = ["en"] * 8 + ["de", "fr", ""]
CATEGORIES = ["news", "blog", "docs", "shop", "wiki"]
EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
EDGE_TEXTS = [
    "",
    " ".join(["spark"] * 1000),
    " ".join(PLANTED + HOT + [RARE]),
    "Café Müller 中文 résumé biology Über É",
    "tiebreak quantum flux common signal",
    "tiebreak quantum flux common signal",
]

# The engine's reference query set (1-4 terms, '-' exclusion, mixed case,
# absent and non-ASCII terms), kept here as plain strings.
REFERENCE_QUERIES = [
    "biology", "the", "zyzzyva", "absentterm", "biology chemistry",
    "quantum neural spark", "BIOLOGY", "Quantum FLUX", "index query",
    "tokyo glacier", "biology -chemistry", "the -biology",
    "spark index query neural", "tiebreak", "quantum", "glacier",
    "w0001 w0002", "of and", "中文", "café", "physics -the", "w0003",
    "neural biology physics", "spark spark", "absentterm biology",
]

WITHIN_EN = "lang = 'en'"

PAGES_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)

_JUNK = [
    "<script type='text/javascript'>var x = 1 && 2; document.write('<p>junk</p>');</script>",
    "<style>p { color: red; }\n.hidden { display:none }</style>",
    "<!-- comment\n spanning lines -->",
    "<img src='x.png' alt='pic'>",
    "<br/>",
    "<div class='a b'>",
    "</div>",
]


def _escape(text: str) -> str:
    return text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _html(text: str, i: int, rng: np.random.RandomState) -> bytes:
    words = text.split(" ") if text else []
    title = _escape(" ".join(words[:3]))
    body = []
    pos = min(3, len(words))
    j = 0
    while pos < len(words):
        step = int(rng.randint(5, 40))
        body.append(f"<p id='c{j}'>{_escape(' '.join(words[pos:pos + step]))}</p>")
        if rng.rand() < 0.4:
            body.append(_JUNK[int(rng.randint(0, len(_JUNK)))])
        pos += step
        j += 1
    if i % 13 == 0:
        body.append("<malformed attr=>")
    return (
        "<html>\n<head><title>" + title
        + "</title>\n<script>if (a < b) { go(); }</script></head>\n<body>\n"
        + "\n  ".join(body) + "\n</body></html>"
    ).encode("utf-8")


def _text(rng: np.random.RandomState, vocab: np.ndarray, i: int, planted: bool) -> str:
    n_tokens = int(np.clip(rng.lognormal(4.2, 0.7), 10, 800))
    ranks = np.clip(rng.zipf(1.25, size=n_tokens) - 1, 0, len(vocab) - 1)
    out = []
    for t in vocab[ranks].tolist():
        r = rng.rand()
        if r < 0.06:
            t = t.capitalize()
        elif r < 0.08:
            t = t.upper()
        if rng.rand() < 0.04:
            t += "," if rng.rand() < 0.6 else "."
        out.append(t)
        if rng.rand() < 0.01:
            out.append("&" if rng.rand() < 0.5 else "a<b")
    if planted:
        for j, term in enumerate(PLANTED):
            if i % (8 * (j + 1)) == j:  # biology ~1/8 of docs ... glacier ~1/80
                out.insert(int(rng.randint(0, len(out) + 1)), term)
        if i == 7:
            out.insert(0, RARE)
    return " ".join(out)


def make_docs(n: int, seed: int, first_id: int = 0, edge: bool = True) -> dict:
    """n seeded docs (plus the six edge docs when ``edge``) as columns.

    doc_ids are ``first_id, first_id + 1, ...``; give each segment its own
    id range so a union corpus never repeats an id."""
    rng = np.random.RandomState(seed)
    vocab = np.array(VOCAB)
    texts = [_text(rng, vocab, i, planted=edge) for i in range(n)]
    if edge:
        texts += EDGE_TEXTS
    rng_html = np.random.RandomState(seed + 1)
    ids = list(range(first_id, first_id + len(texts)))
    return {
        "doc_id": ids,
        "url": [f"https://site{d % 97}.example/{CATEGORIES[d % 5]}/page-{d}.html" for d in ids],
        "warc_ts": [EPOCH + dt.timedelta(seconds=37 * d) for d in ids],
        "html": [_html(t, d, rng_html) for t, d in zip(texts, ids)],
        "text": texts,
        "lang": [LANGS[d % len(LANGS)] for d in ids],
    }


def write_parquet_dir(docs: dict, path: str, n_files: int = 4) -> None:
    """Write docs as ``n_files`` parquet files in a fresh directory."""
    os.makedirs(path)
    table = pa.table(docs, schema=PAGES_SCHEMA)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet"))


# ------------------------------------------------------------------ queries
# An op is (query string, mode, within-predicate or None).
def _term(rng: np.random.RandomState, band: str) -> str:
    if band == "hot":
        return HOT[int(rng.randint(0, len(HOT)))]
    if band == "mid":
        if rng.rand() < 0.3:
            return PLANTED[int(rng.randint(0, len(PLANTED)))]
        return VOCAB[int(rng.randint(13, 400))]
    return VOCAB[int(rng.randint(400, len(VOCAB)))]


def _case(rng: np.random.RandomState, t: str) -> str:
    r = rng.rand()
    return t.upper() if r < 0.05 else t.capitalize() if r < 0.15 else t


SHAPES = ["single", "or", "and", "neg", "less", "within"]
BATCH_SHAPES = ["single", "or", "neg", "less"]  # fit one shared batch_search (OR mode, no filter)


def make_op(rng: np.random.RandomState, shape: str) -> tuple:
    """One query of the given shape with seeded terms: rare/mid/hot single
    terms, 2-4 term OR, AND, '-neg', '~less', or OR ``within`` a
    metadata predicate."""
    bands = ["rare", "mid", "mid", "hot"]

    def terms(lo: int, hi: int) -> list[str]:
        return [_case(rng, _term(rng, bands[int(rng.randint(0, 4))]))
                for _ in range(int(rng.randint(lo, hi + 1)))]

    def excluded() -> str:
        return _term(rng, bands[int(rng.randint(1, 4))])

    if shape == "single":
        return (terms(1, 1)[0], "or", None)
    if shape == "or":
        return (" ".join(terms(2, 4)), "or", None)
    if shape == "and":
        return (" ".join([_term(rng, "mid")] + terms(1, 2)), "and", None)
    if shape == "neg":
        return (" ".join(terms(1, 3) + ["-" + excluded()]), "or", None)
    if shape == "less":
        return (" ".join(terms(1, 3) + ["~" + excluded()]), "or", None)
    if shape == "within":
        return (" ".join(terms(1, 2)), "or", WITHIN_EN)
    raise ValueError(shape)


def shape_pools(seed: int, n_per_shape: int) -> dict[str, list[tuple]]:
    """n_per_shape distinct seeded ops of every shape."""
    rng = np.random.RandomState(seed)
    pools: dict[str, list[tuple]] = {}
    for shape in SHAPES:
        seen: dict[tuple, None] = {}
        while len(seen) < n_per_shape:
            seen.setdefault(make_op(rng, shape))
        pools[shape] = list(seen)
    return pools


class ZipfStream:
    """Zipf-distributed draws over a pool; the popularity ranks follow the
    pool's order, or a seeded shuffle of it. Without ``replace`` no op is
    drawn twice."""

    def __init__(self, pool: list, seed: int, s: float, shuffle: bool = True, replace: bool = True):
        self.pool = pool
        self.rng = np.random.RandomState(seed)
        self.w = 1.0 / np.arange(1, len(pool) + 1) ** s
        self.order = self.rng.permutation(len(pool)) if shuffle else np.arange(len(pool))
        self.replace = replace

    def next(self):
        i = int(self.rng.choice(len(self.pool), p=self.w / self.w.sum()))
        if not self.replace:
            self.w[i] = 0.0
        return self.pool[self.order[i]]


class ShapeStream:
    """Ops in blocks that hold every shape once, in a fixed order; within a
    shape, Zipf-weighted draws without repeats over that shape's pool."""

    def __init__(self, pools: dict[str, list[tuple]], seed: int, s: float):
        self.streams = [ZipfStream(pool, seed + i, s, replace=False) for i, pool in enumerate(pools.values())]
        self.i = 0

    def next(self):
        self.i += 1
        return self.streams[(self.i - 1) % len(self.streams)].next()
