"""One benchmark run: seeded inputs, one SparkSession, one closed-loop
single-client workload, oracle checks after every op, metrics.

Started by run.py (which owns the process lifetime and prints the result);
writes ``result.json`` into ``--out``. Every engine call goes through a
span, so a traced run (``--trace 1``) can split the time per layer;
untraced runs give the end-to-end numbers.
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

import gen  # noqa: E402
import tracing  # noqa: E402
from lsearch_spark import catalog, codec, fsio, oracle  # noqa: E402
from lsearch_spark.build import STAGES, append_index, build_index, compact_index  # noqa: E402
from lsearch_spark.extract import extract_text_series  # noqa: E402
from lsearch_spark.query import (  # noqa: E402
    batch_search,
    invalidate_cache,
    search,
    search_with_stats,
    warm_postings,
)
from lsearch_spark.session import get_spark  # noqa: E402
from lsearch_spark.tokenize import arrow_tokenize  # noqa: E402

K = 10
FRESH_OP = ("quantum neural spark", "or", None)  # first query after each commit
SEG_ID_BASE = 10_000_000  # segment r gets ids from SEG_ID_BASE * (r + 1)
# Query pools and streams do not vary with --seed: every run issues the
# same queries, so runs differ only in the corpus they read. (Single-term
# and multi-term queries differ several-fold in latency, so a mix that
# changed with the seed would move the percentiles by itself.)
READ_SEED = 1
BATCH_EVERY = 3  # serve-repeat: every third op is the reference batch

SIZES = {
    "full": {
        "docs": 3000, "seg": 300, "rounds": 2, "repeat_extra": 3, "stream_ops": 16, "warm_batches": 10, "pool_per_shape": 700,
        "searches": 3, "fresh_repeats": 3, "stats_ops": 8, "probe_reps": 8,
    },
    "tiny": {
        "docs": 120, "seg": 20, "rounds": 1, "repeat_extra": 2, "stream_ops": 8, "warm_batches": 2, "pool_per_shape": 30,
        "searches": 3, "fresh_repeats": 2, "stats_ops": 2, "probe_reps": 2,
    },
}


class RssSampler:
    """Peak resident memory summed over this process, the JVM and Spark's
    Python workers (the processes of this session), polled from /proc."""

    def __init__(self, period_s: float = 0.2):
        self.sid = os.getsid(0)
        self.page = os.sysconf("SC_PAGE_SIZE")
        self.peak_b = 0
        self.n = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, args=(period_s,), daemon=True)

    def _sample(self) -> int:
        total = 0
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    stat = f.read()
                if int(stat.rsplit(")", 1)[1].split()[3]) != self.sid:
                    continue
                with open(f"/proc/{pid}/statm") as f:
                    rss = int(f.read().split()[1]) * self.page
            except (OSError, ValueError, IndexError):
                continue  # process ended between listdir and read
            name = stat[stat.index("(") + 1:stat.rindex(")")]
            if name == "java" or name.startswith("python"):
                # anything else is a short-lived child, e.g. a JVM fork that
                # has not yet exec'd and still reports the JVM's pages
                total += rss
        return total

    def _loop(self, period_s: float) -> None:
        while not self._stop.wait(period_s):
            self.peak_b = max(self.peak_b, self._sample())
            self.n += 1

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class Oracle:
    """Exhaustive BM25 ground truth (lsearch_spark.oracle) over a corpus."""

    def __init__(self, idx: oracle.PyIndex, lang: dict[int, str]):
        self.idx, self.lang, self._memo = idx, lang, {}

    @classmethod
    def of(cls, docs: dict) -> "Oracle":
        return cls(
            oracle.build_index(list(zip(docs["doc_id"], docs["text"]))),
            dict(zip(docs["doc_id"], docs["lang"])),
        )

    def ranking(self, op: tuple) -> list[tuple[int, float]]:
        """Every matching doc as (doc_id, score), best first (score desc,
        doc_id asc); a ``within`` op keeps the docs the predicate admits."""
        if op not in self._memo:
            query, mode, within = op
            ranked = oracle.bm25_topk(self.idx, query, self.idx.n_docs, mode)
            if within == gen.WITHIN_EN:
                ranked = [r for r in ranked if self.lang[r[0]] == "en"]
            elif within is not None:
                raise ValueError(f"no oracle for within={within!r}")
            self._memo[op] = ranked
        return self._memo[op]


def close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)


def same_topk(got: list[tuple[int, float]], ranking: list[tuple[int, float]]) -> bool:
    """The engine's top-K against the oracle's ranking: the score at every
    rank agrees to a relative 1e-9, and the doc_ids are the oracle's, in
    its order, except that docs whose oracle scores agree to that tolerance
    may come in any order (the engine sums a doc's term scores in another
    order, so equal real scores can differ in the last bit). Every doc
    returned must carry its own oracle score."""
    want = ranking[:K]
    if len(got) != len(want) or not all(close(g, w) for (_, g), (_, w) in zip(got, want)):
        return False
    if [d for d, _ in got] == [d for d, _ in want]:
        return True
    score = dict(ranking)
    return len({d for d, _ in got}) == len(got) and all(
        d in score and close(score[d], s) for d, s in got
    )


class Run:
    def __init__(self, args):
        self.args = args
        self.size = SIZES["tiny" if args.tiny else "full"]
        self.work = args.out
        self.traced = bool(args.trace)
        # every RandomState below is seeded from seed plus a small offset
        self.seed = args.seed % 2**24
        self.spark = None
        self.tr = tracing.Tracer(on=self.traced)
        self.rss = RssSampler()
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.samples: dict[str, list[float]] = {}
        self.ops: list[dict] = []  # per timed query op, for the traced reduction
        self.layer: dict[str, list[float]] = {}  # per-layer samples taken directly
        self.build_groups: list[str] = []
        self.manifest_walls: dict[str, list[float]] = {s: [] for s in STAGES}
        self.n_op = 0
        self.write_ops = 0  # build/append/compact calls
        self.write_s = 0.0  # their wall
        self.write_docs = 0  # docs they made searchable
        self.planted = not args.plant_wrong
        self.t_start = time.perf_counter()

    # ------------------------------------------------------------ helpers
    def add(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def add_layer(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(value)

    def next_op(self) -> int:
        self.n_op += 1
        return self.n_op

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(what)

    def check(self, what: str, got: list[tuple[int, float]], ranking: list[tuple[int, float]]) -> None:
        if not self.planted and got:
            got = [(-1, got[0][1])] + got[1:]  # smoke-test hook: one wrong top-k
            self.planted = True
        if not same_topk(got, ranking):
            self.fail(f"{what}: got {got} want {ranking[:K]}")

    def phase(self, name: str, **extra: float) -> None:
        """Log wall time since the run started (to the run's log)."""
        print(f"phase {name} at {time.perf_counter() - self.t_start:.2f}s {extra}", flush=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # ------------------------------------------------------------ session
    def start_session(self) -> float:
        extra = None
        if self.traced:
            log_dir = self.path("eventlog")
            os.makedirs(log_dir)
            extra = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        t0 = time.perf_counter()
        with self.tr.span("session.get_spark"):
            self.spark = get_spark(extra_confs=extra)
            self.spark.range(1).count()
        start_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tr.sc = self.spark.sparkContext
        self.add_layer("session.start_s", start_s)
        return start_s

    # ------------------------------------------------------------ query ops
    def search_op(self, wh: str, op: tuple, orc: Oracle, sample: str | None = "query_ms") -> float | None:
        """One search(); the latency covers planning and collect()."""
        n = self.next_op()
        self.attempted += 1
        query, mode, within = op
        try:
            t0 = time.perf_counter()
            with self.tr.span("query.search", n, f"op{n}:plan"):
                df = search(self.spark, wh, query, k=K, mode=mode, within=within)
            t1 = time.perf_counter()
            with self.tr.span("query.collect", n, f"op{n}:exec"):
                rows = df.collect()
            t2 = time.perf_counter()
        except Exception as e:  # noqa: BLE001 — a failed op is counted, the run goes on
            self.fail(f"search {op!r}: {type(e).__name__}: {e}"[:300])
            return None
        ms = 1000.0 * (t2 - t0)
        print(f"op {n} search {ms:.1f}ms plan {1000.0 * (t1 - t0):.1f}ms {sample or '-'} {op!r}", flush=True)
        if sample:
            self.add(sample, ms)
            self.ops.append({"kind": "search", "op": n, "q": op,
                             "plan_ms": 1000.0 * (t1 - t0), "exec_ms": 1000.0 * (t2 - t1)})
        self.check(f"search {op!r}", [(r["doc_id"], r["score"]) for r in rows], orc.ranking(op))
        return ms

    def batch_op(self, wh: str, ops: list[tuple], orc: Oracle, sample: bool = True) -> None:
        n = self.next_op()
        self.attempted += 1
        queries = {f"b{i}": op[0] for i, op in enumerate(ops)}
        try:
            t0 = time.perf_counter()
            with self.tr.span("query.batch_search", n, f"op{n}:plan"):
                df = batch_search(self.spark, wh, queries, k=K)
            t1 = time.perf_counter()
            with self.tr.span("query.collect", n, f"op{n}:exec"):
                rows = df.collect()
            t2 = time.perf_counter()
        except Exception as e:  # noqa: BLE001
            self.fail(f"batch {list(queries.values())[:3]}: {type(e).__name__}: {e}"[:300])
            return
        print(f"op {n} batch {1000.0 * (t2 - t0):.1f}ms plan {1000.0 * (t1 - t0):.1f}ms "
              f"{len(ops)} queries", flush=True)
        if sample:
            self.add("batch_qps", len(ops) / (t2 - t0))
            self.ops.append({"kind": "batch", "op": n, "plan_ms": 1000.0 * (t1 - t0),
                             "exec_ms": 1000.0 * (t2 - t1)})
        got: dict[str, list] = {qid: [] for qid in queries}
        for r in rows:
            got[r["query_id"]].append((r["doc_id"], r["score"]))
        bad = [qid for qid, op in zip(queries, ops) if not same_topk(got[qid], orc.ranking(op))]
        if bad:
            self.fail(f"batch: {len(bad)} of {len(ops)} queries differ, e.g. {queries[bad[0]]!r}")

    def fresh_op(self, wh: str, orc: Oracle, repeats: int = 1) -> float:
        """The first query after a commit, when the engine holds no state
        for this index; ``repeats`` > 1 drops that state again
        (invalidate_cache) and repeats the query. Returns the wall spent
        here outside the queries (catalog probe, oracle checks)."""
        t0 = time.perf_counter()
        self.catalog_probe(wh)
        spent = 0.0
        for i in range(repeats):
            if i:
                invalidate_cache(wh)
            ms = self.search_op(wh, FRESH_OP, orc, sample=None)
            if ms is not None:
                self.add("fresh_query_ms", ms)
                spent += ms / 1000.0
        return time.perf_counter() - t0 - spent

    # ------------------------------------------------------------ write ops
    def build_op(self, corpus_dir: str, wh: str, n_docs: int, setup: bool = False) -> float:
        """One build_index. A set-up build (``setup``) is left out of
        index_docs_per_s; its caller counts it in setup_s."""
        n = self.next_op()
        self.attempted += 1
        group = f"op{n}:build"
        t0 = time.perf_counter()
        with self.tr.span("build.build_index", n, group):
            build_index(self.spark, corpus_dir, wh, run_id=f"b{n}")
        s = time.perf_counter() - t0
        print(f"op {n} build {s:.3f}s", flush=True)
        if not setup:
            self.write_ops += 1
            self.write_s += s
            self.write_docs += n_docs
        self.add("index_bytes_per_doc", index_bytes(wh) / n_docs)
        self.build_groups.append(group)
        for stage in STAGES:
            with open(os.path.join(wh, "_manifests", f"{stage}.json")) as f:
                self.manifest_walls[stage].append(json.load(f)["wall_ms"] / 1000.0)
        return s

    def append_op(self, seg_dir: str, wh: str, n_docs: int) -> float:
        n = self.next_op()
        self.attempted += 1
        t0 = time.perf_counter()
        with self.tr.span("build.append_index", n, f"op{n}:append"):
            append_index(self.spark, seg_dir, wh, run_id=f"a{n}")
        s = time.perf_counter() - t0
        print(f"op {n} append {s:.3f}s", flush=True)
        self.write_ops += 1
        self.write_s += s
        self.write_docs += n_docs
        self.add_layer("build.append_s", s)
        return s

    def compact_op(self, wh: str, n_docs: int) -> str:
        n = self.next_op()
        self.attempted += 1
        dest = wh + "_compact"
        t0 = time.perf_counter()
        with self.tr.span("build.compact_index", n, f"op{n}:compact"):
            compact_index(self.spark, wh, dest, run_id=f"c{n}")
        s = time.perf_counter() - t0
        print(f"op {n} compact {s:.3f}s", flush=True)
        self.write_ops += 1
        self.write_s += s
        self.add_layer("build.compact_s", s)
        self.add("index_bytes_per_doc", index_bytes(dest) / n_docs)
        return dest

    # ------------------------------------------------------------ per-layer probes
    def catalog_probe(self, wh: str) -> None:
        if not self.traced:
            return
        t0 = time.perf_counter()
        with self.tr.span("catalog.read_table"):
            catalog.read_table(self.spark, wh, "postings")
        self.add_layer("catalog.read_table_ms", 1000.0 * (time.perf_counter() - t0))
        self.add_layer("catalog.segments", 1 + len(glob.glob(os.path.join(wh, "_segments", "seg*", "postings"))))

    def session_probes(self) -> None:
        """Floors of one 1-task JVM-only job and one 1-task identity
        mapInPandas job (after one untimed warm-up each)."""
        jvm = self.spark.range(0, 1, 1, 1)
        py = jvm.mapInPandas(lambda it: it, "id long")
        for name, df in (("session.job_floor_ms", jvm), ("session.python_floor_ms", py)):
            df.collect()
            for _ in range(self.size["probe_reps"]):
                t0 = time.perf_counter()
                with self.tr.span(name):
                    df.collect()
                self.add_layer(name, 1000.0 * (time.perf_counter() - t0))

    def text_probes(self, docs: dict) -> None:
        """Spark-free extract and tokenize over the corpus, in batches of
        the engine's Arrow batch size."""
        html = pd.Series(docs["html"], dtype=object)
        texts = []
        t0 = time.perf_counter()
        with self.tr.span("extract.extract_text_series"):
            for i in range(0, len(html), 10_000):
                texts.append(extract_text_series(html.iloc[i:i + 10_000]))
        self.add_layer("extract.docs_per_s", len(html) / (time.perf_counter() - t0))
        text = pd.concat(texts).tolist()
        t0 = time.perf_counter()
        with self.tr.span("tokenize.arrow_tokenize"):
            for i in range(0, len(text), 10_000):
                arrow_tokenize(text[i:i + 10_000])
        self.add_layer("tokenize.docs_per_s", len(text) / (time.perf_counter() - t0))

    def codec_probe(self, wh: str) -> None:
        """Spark-free varint decode and re-encode of the index's real
        posting blocks, 1,024 blocks per batch as the query kernels see
        them."""
        rows = catalog.read_table(self.spark, wh, "postings").select(
            "n_docs", "doc_ids", "tfs", "doc_lens").collect()
        batches = [rows[i:i + 1024] for i in range(0, len(rows), 1024)]
        postings = sum(r["n_docs"] for r in rows)
        decoded = []
        t0 = time.perf_counter()
        with self.tr.span("codec.varint_decode"):
            for b in batches:
                decoded.append([codec.varint_decode(b"".join(bytes(r[c]) for r in b))
                                for c in ("doc_ids", "tfs", "doc_lens")])
        self.add_layer("codec.decode_mpostings_per_s", postings / 1e6 / (time.perf_counter() - t0))
        t0 = time.perf_counter()
        with self.tr.span("codec.varint_encode_segmented"):
            for b, cols in zip(batches, decoded):
                ends = np.cumsum([r["n_docs"] for r in b])
                starts = ends - np.array([r["n_docs"] for r in b])
                for v in cols:
                    codec.varint_encode_segmented(v, starts, ends)
        self.add_layer("codec.encode_mpostings_per_s", postings / 1e6 / (time.perf_counter() - t0))

    def fsio_probe(self, wh: str) -> None:
        path = os.path.join(wh, "_manifests", "config.json")
        for _ in range(self.size["probe_reps"]):
            t0 = time.perf_counter()
            with self.tr.span("fsio.read_bytes"):
                fsio.read_bytes(path)
            self.add_layer("fsio.read_bytes_ms", 1000.0 * (time.perf_counter() - t0))

    def stats_pass(self, wh: str) -> None:
        """Untimed search_with_stats over a seeded sample of the distinct
        queries the window ran: decode volume and verification fallbacks."""
        distinct = sorted({o["q"] for o in self.ops if o["kind"] == "search"}, key=repr)
        rng = np.random.RandomState(self.seed + 5)
        pick = [distinct[i] for i in rng.permutation(len(distinct))[: self.size["stats_ops"]]]
        dec = tot = post = fallbacks = 0
        for query, mode, within in pick:
            with self.tr.span("query.search_with_stats"):
                _, info = search_with_stats(self.spark, wh, query, k=K, mode=mode, within=within)
            if info.get("blocks_total"):
                dec += info.get("blocks_decoded") or 0
                tot += info["blocks_total"]
            post += info.get("postings_decoded") or 0
            fallbacks += bool(info.get("prune_fallback"))
        n = max(len(pick), 1)
        self.layer["query.blocks_decoded_frac"] = [dec / tot if tot else 0.0]
        self.layer["query.postings_decoded_per_op"] = [post / n]
        self.layer["query.verify_fallback_frac"] = [fallbacks / n]
        self.layer["query.stats_ops"] = [len(pick)]

    def layer_probes(self, wh: str, docs: dict, write_probe) -> None:
        self.stats_pass(wh)
        if write_probe is not None:
            write_probe()
        self.session_probes()
        self.text_probes(docs)
        self.codec_probe(wh)
        self.fsio_probe(wh)

    # ------------------------------------------------------------ inputs
    def make_inputs(self, n_segments: int) -> tuple[dict, list[dict]]:
        corpus = gen.make_docs(self.size["docs"], self.seed)
        gen.write_parquet_dir(corpus, self.path("corpus"))
        segs = []
        for r in range(n_segments):
            seg = gen.make_docs(self.size["seg"], self.seed * 100 + r + 1,
                                first_id=SEG_ID_BASE * (r + 1), edge=False)
            gen.write_parquet_dir(seg, self.path(f"seg{r}"), n_files=1)
            segs.append(seg)
        return corpus, segs


# ---------------------------------------------------------------- workloads
def serve_repeat(run: Run):
    """Build, query the fresh index, pin its postings (warm_postings), draw
    a Zipf sequence over a pool the resolved-plan memo holds (the
    reference queries plus a few generated shapes, most popular first),
    warm up on its distinct queries and the reference batch, then replay
    the sequence, with the reference batch every few ops. Nearly every
    call replays a memoized plan."""
    t0 = time.perf_counter()
    corpus, (seg,) = run.make_inputs(1)
    gen_s = time.perf_counter() - t0
    session_s = run.start_session()
    orc = Oracle.of(corpus)
    wh = run.path("serve")
    t0 = time.perf_counter()
    run.build_op(run.path("corpus"), wh, len(corpus["doc_id"]))
    outside = run.fresh_op(wh, orc, repeats=run.size["fresh_repeats"])
    with run.tr.span("query.warm_postings"):
        warm_postings(run.spark, wh)
    setup_s = gen_s + session_s + time.perf_counter() - t0 - outside
    run.phase("setup", gen_s=gen_s, session_s=session_s)

    rng = np.random.RandomState(READ_SEED)
    ref = [(q, "or", None) for q in gen.REFERENCE_QUERIES]
    pool = ref + [gen.make_op(rng, gen.SHAPES[i % len(gen.SHAPES)]) for i in range(run.size["repeat_extra"])]
    stream = gen.ZipfStream(pool, READ_SEED, 1.0, shuffle=False)
    seq = [stream.next() for _ in range(run.size["stream_ops"])]
    # every distinct query twice and the batch several times, untimed: the
    # JVM keeps compiling a replayed plan's code for several calls (batch
    # replays fall from about 60 to 45 ms over the first ten), and a loop
    # that starts before that settles reads faster the more calls it fits
    distinct = list(dict.fromkeys(seq))
    for op in distinct + distinct:
        run.search_op(wh, op, orc, sample=None)
    for _ in range(run.size["warm_batches"]):
        run.batch_op(wh, ref, orc, sample=False)
    run.phase("warm-up")
    deadline = time.perf_counter() + run.args.seconds
    i = j = 0
    while time.perf_counter() < deadline:
        i += 1
        if i % BATCH_EVERY == 0:
            run.batch_op(wh, ref, orc)
        else:
            run.search_op(wh, seq[j % len(seq)], orc)
            j += 1
    run.phase("window")

    def write_probes():
        """One append and one compaction of the served index, after the
        window, for a traced run's write-path layer metrics."""
        u = Oracle.of(concat(corpus, seg))
        run.append_op(run.path("seg0"), wh, len(seg["doc_id"]))
        run.fresh_op(wh, u)
        run.fresh_op(run.compact_op(wh, len(u.idx.doc_len)), u)

    return setup_s, wh, corpus, write_probes


def ingest(run: Run):
    """A fixed amount of work, the same in every run: build the corpus from
    a parquet directory, then rounds of append + the first query after the
    commit + a few queries (the last round also a batch over a fresh query
    set), then compact and query the compacted index.

    The build is set-up: it is the session's first job with Python
    workers, so it carries the JVM's and the workers' first-use costs, and
    their spread between runs (the build's wall varies 2x on a busy host,
    the appends' and compaction's far less). It is timed into setup_s;
    index_docs_per_s covers the appends and the compaction.

    Each append drops the engine's per-index state, so every read here
    misses the plan memo: the queries come from thousands of distinct
    generated ones (single rare/mid/hot terms, 2-4 term OR, AND, '-neg',
    '~less', ``within``), Zipf-weighted within a shape and never repeated
    in a run; the rounds between them hold each shape once."""
    t0 = time.perf_counter()
    corpus, segs = run.make_inputs(run.size["rounds"])
    gen_s = time.perf_counter() - t0
    session_s = run.start_session()
    wh = run.path("ingest")
    build_s = run.build_op(run.path("corpus"), wh, len(corpus["doc_id"]), setup=True)
    setup_s = gen_s + session_s + build_s
    run.phase("setup", gen_s=gen_s, session_s=session_s, build_s=build_s)

    oracles = [Oracle.of(concat(corpus, *segs[:r])) for r in range(len(segs) + 1)]
    pools = gen.shape_pools(READ_SEED, run.size["pool_per_shape"])
    stream = gen.ShapeStream(pools, READ_SEED, 0.9)
    batch_pools = gen.shape_pools(READ_SEED + 1, run.size["pool_per_shape"])
    rng = np.random.RandomState(READ_SEED + 3)
    run.fresh_op(wh, oracles[0])
    for r, seg in enumerate(segs):
        run.append_op(run.path(f"seg{r}"), wh, len(seg["doc_id"]))
        orc = oracles[r + 1]
        run.fresh_op(wh, orc)
        if r == len(segs) - 1:
            run.batch_op(wh, [batch_pools[shape][int(rng.randint(run.size["pool_per_shape"]))]
                              for shape in gen.BATCH_SHAPES], orc)
        for _ in range(run.size["searches"]):
            run.search_op(wh, stream.next(), orc)
    compacted = run.compact_op(wh, len(oracles[-1].idx.doc_len))
    run.fresh_op(compacted, oracles[-1])
    run.phase("cycle")
    return setup_s, compacted, corpus, None


WORKLOADS = {"serve-repeat": serve_repeat, "ingest": ingest}


def concat(*parts: dict) -> dict:
    """The columns of several corpora as one corpus."""
    return {k: [x for p in parts for x in p[k]] for k in parts[0]}


def index_bytes(wh: str) -> int:
    """On-disk bytes of an index, without the query/build metrics logs."""
    total = 0
    for dirpath, dirnames, files in os.walk(wh):
        dirnames[:] = [d for d in dirnames if d not in ("query_metrics", "build_metrics")]
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


# ---------------------------------------------------------------- metrics
def pct(xs: list[float], q: float) -> float:
    return float(np.percentile(np.asarray(xs, dtype=float), q)) if xs else 0.0


def end_to_end(run: Run, setup_s: float) -> dict[str, tuple[float, str, int]]:
    """name -> (value, unit, sample count)."""
    s = run.samples
    q = s.get("query_ms", [])

    out = {"setup_s": (setup_s, "s", 1),
           "query_ms_p50": (pct(q, 50), "ms", len(q)),
           # the upper quartile: a p95 of a run's 20-30 loop queries is the
           # slowest one or two of them, and it swung 40% between runs
           "query_ms_p75": (pct(q, 75), "ms", len(q))}
    for name, key, unit in (
        ("batch_qps", "batch_qps", "queries/s"),
        ("fresh_query_ms_p50", "fresh_query_ms", "ms"),
        ("index_bytes_per_doc", "index_bytes_per_doc", "bytes/doc"),
    ):
        v, n = tracing.med(s.get(key, []))
        out[name] = (v, unit, n)
    out["index_docs_per_s"] = (run.write_docs / run.write_s, "docs/s", run.write_ops)
    out["peak_rss_mb"] = (run.rss.peak_b / 2**20, "MB", run.rss.n)
    out["error_frac"] = (run.failed / max(run.attempted, 1), "frac", run.attempted)
    return out


def per_layer(run: Run, log_dir: str) -> dict[str, tuple[float, str, int]]:
    """name -> (value, unit, sample count), from the run's direct samples,
    its per-op records and the Spark event log."""
    agg = tracing.reduce_event_log(log_dir)
    groups = tracing.by_group(agg)
    out: dict[str, tuple[float, str, int]] = {}

    def put(name, unit, xs):
        v, n = tracing.med(xs)
        out[name] = (v, unit, n)

    for name, unit in (
        ("session.start_s", "s"), ("session.job_floor_ms", "ms"), ("session.python_floor_ms", "ms"),
        ("extract.docs_per_s", "docs/s"), ("tokenize.docs_per_s", "docs/s"),
        ("codec.decode_mpostings_per_s", "Mpostings/s"), ("codec.encode_mpostings_per_s", "Mpostings/s"),
    ):
        put(name, unit, run.layer.get(name, []))
    out["session.peak_rss_mb"] = (run.rss.peak_b / 2**20, "MB", run.rss.n)
    nb = len(run.build_groups)
    for stage in STAGES:
        put(f"build.{stage}.wall_s", "s", run.manifest_walls[stage])
        tot = {"cpu_s": 0.0, "shuffle_write_b": 0, "spill_b": 0}
        for (group, desc), v in agg.items():
            if group in run.build_groups and desc == f"build:{stage}":
                for k in tot:
                    tot[k] += v[k]
        out[f"build.{stage}.task_cpu_s"] = (tot["cpu_s"] / nb, "s", nb)
        out[f"build.{stage}.shuffle_write_mb"] = (tot["shuffle_write_b"] / nb / 2**20, "MB", nb)
        out[f"build.{stage}.spill_mb"] = (tot["spill_b"] / nb / 2**20, "MB", nb)
    for name, unit in (("build.append_s", "s"), ("build.compact_s", "s"),
                       ("catalog.read_table_ms", "ms"), ("fsio.read_bytes_ms", "ms")):
        put(name, unit, run.layer.get(name, []))
    segs = run.layer.get("catalog.segments", [])
    out["catalog.segments"] = (float(max(segs, default=0)), "count", len(segs))

    def job(o, phase):
        return groups.get(f"op{o['op']}:{phase}", tracing.EMPTY_GROUP)

    searches = [o for o in run.ops if o["kind"] == "search"]
    batches = [o for o in run.ops if o["kind"] == "batch"]
    put("query.plan_ms", "ms", [o["plan_ms"] for o in searches])
    put("query.plan_jobs_per_op", "jobs/op", [job(o, "plan")["jobs"] for o in searches])
    out["query.plan_jobless_frac"] = (
        sum(job(o, "plan")["jobs"] == 0 for o in searches) / max(len(searches), 1), "frac", len(searches))
    put("query.exec_ms", "ms", [o["exec_ms"] for o in searches])
    put("query.exec_jobs_per_op", "jobs/op", [job(o, "exec")["jobs"] for o in searches])
    put("query.task_wait_ms", "ms", [job(o, "exec")["wait_ms"] for o in searches])
    put("query.python_boot_ms", "ms", [job(o, "exec")["py_boot_ms"] for o in searches])
    put("query.python_init_ms", "ms", [job(o, "exec")["py_init_ms"] for o in searches])
    put("query.python_total_ms", "ms", [job(o, "exec")["py_run_ms"] for o in searches])
    put("query.python_mb", "MB",
        [(job(o, "exec")["py_sent_b"] + job(o, "exec")["py_recv_b"]) / 2**20 for o in searches])
    n_stats = int(run.layer["query.stats_ops"][0])
    for name, unit in (("query.blocks_decoded_frac", "frac"), ("query.postings_decoded_per_op", "postings/op"),
                       ("query.verify_fallback_frac", "frac")):
        out[name] = (run.layer[name][0], unit, n_stats)
    put("query.batch_plan_ms", "ms", [o["plan_ms"] for o in batches])
    put("query.batch_exec_ms", "ms", [o["exec_ms"] for o in batches])
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", required=True)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--plant-wrong", action="store_true")
    args = ap.parse_args()

    run = Run(args)
    run.rss.start()
    # a workload returns its set-up time, the index it ended on, its corpus,
    # and the write-path probes a traced run adds after the window (or None)
    setup_s, wh, corpus, write_probe = WORKLOADS[args.workload](run)
    run.rss.stop()
    e2e = end_to_end(run, setup_s)
    if run.traced:
        run.layer_probes(wh, corpus, write_probe)
    run.phase("probes")
    run.spark.stop()
    result = {"correct": run.failed == 0, "attempted": run.attempted, "failed": run.failed,
              "failures": run.failures, "end_to_end": e2e}
    if run.traced:
        result["per_layer"] = per_layer(run, run.path("eventlog"))
        run.tr.dump(run.path("spans.json"))
    with open(run.path("result.json"), "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
