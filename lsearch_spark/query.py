"""BM25 top-k retrieval over the compressed index.

Generalizes the reference's query side (Has filter -> posting-list
membership; More occurrence scorer -> BM25 tf-idf, reference
search.rs:233-283) with the deterministic tie-break (score DESC,
doc_id ASC) required by the north_rule.

Query syntax: whitespace-separated terms, '-term' = exclusion (the
reference's Hasnt, search.rs:250-265, as a LEFT ANTI join), '~term' =
negative-weight scorer (the reference's declared-but-never-wired Less,
cli.yaml:44-49 — subtracts the term's BM25 contribution).

Two execution paths, equivalence-tested against each other and the
pure-Python oracle:

- exhaustive: decode every matching block, score, groupBy, top-k.
- block-max pruned (prune=True): driver-side block-max WAND. The
  per-term summary table (term_block_stats, one tiny row per term)
  gives, with ZERO extra Spark jobs:
    UB_t  = idf_t * max(block_max_wand)      — upper bound on any doc's
            contribution from t
    tau   = max_t idf_t * top_wands_t[k-1]   — a LOWER bound on the k-th
            best true score: each of a term's k largest block maxima is
            achieved by a distinct real doc (other terms contribute >= 0).
  A block of term t can contain a top-k doc only if
    idf_t * block_max_wand + sum(UB_t' for t' != t) >= tau
  i.e. block_max_wand >= theta_t := (tau - sum(UB_others)) / idf_t —
  a plain per-term comparison pushed into the parquet scan, where
  row-group min/max stats on block_max_wand skip whole row groups.
  Exactness: a true top-k doc d has score(d) >= kth-best >= tau, and
  every block b containing d satisfies bound(b) >= score(d) >= tau,
  so none of d's blocks are pruned and d's final score is exact.
  The pruned path is therefore the SAME single Spark job as the
  exhaustive path, over strictly fewer blocks (round 1's version ran
  3 driver round-trips per query and was a measured pessimization).

Three round-3 refinements keep that plan effective where block-max WAND
alone is provably weak (all exactness-preserving):

- IMPACT ROUTING: hot terms read their impact-ordered copy (kind=1
  partition, emitted by the blocks kernel) instead of the
  doc_id-ordered blocks. A stopword's doc_id-ordered 128-doc blocks
  all contain some high-tf
  doc, so block maxima saturate (measured at 600k docs: maxima within
  [1.93, 2.07] while per-posting wand spans [1.0, 2.06]) and even a
  PERFECT tau prunes ~30%; in impact order the same theta filter keeps
  only the true wand-prefix (measured: "of" 15 blocks vs 4355).
- PROBE TAU (_probe_tau): for multi-term queries whose single-term tau
  leaves a hot term unpruned, one small extra job decodes the top few
  impact blocks per term and takes the k-th best partial sum — a valid
  (and much tighter) lower bound on the true k-th score. This is
  MaxScore's candidate pass as a prefix scan.
- NEGATION VERIFY-AND-FALLBACK: '-term' queries prune the positive
  side with a df-aware deeper tau (k_eff ~ k/(1 - df_neg/n)) and
  verify a posteriori that the anti-joined k-th score still >= tau
  (then every returned score is exact and nothing pruned can displace
  or tie it — see inline proof in search()); on shortfall the query
  reruns exhaustively, the fallback is recorded in query_metrics, and
  the plan memo keeps the exhaustive plan for the shape's repeats.
  Impact LADDERS (term_block_stats.impact_ladder, (max, min) wand
  sampled at power-of-two block ranks) extend tau formation to ANY
  depth (_deep_kth_wand), so even "-<99%-df term>" forms a tau.
  The EXCLUSION side itself picks between three exact plans by shape
  (driver-decided from term stats): broadcast docset applied inside
  the decode kernel (small exclusions), range-pruned anti-join
  (_neg_range_prune: tiny positive + huge exclusion — excluded blocks
  broadcast-range-semi-joined against the positive candidate ids
  before any ids decode, O(df_pos) work), or the distributed LEFT
  ANTI over the full excluded-ids decode.
- COST-BASED PLAN CHOICE: the same ladders bound, within 2x, how many
  blocks any theta keeps (_est_kept_blocks — property-tested sound),
  so the planner runs the routed/probed plan only when it provably
  cuts >40% of the candidate blocks and the probe job only when the
  decode volume it can save exceeds the job's fixed cost
  (probe="auto"); otherwise the plain single-job exhaustive scan wins
  and is used. query_metrics records the choice per query.
- FUSED KERNEL: decode + BM25 + per-batch partial aggregation run in
  ONE numpy pass (_decode_score_partials); only (doc_id, score, hits)
  partials cross Arrow, and the JVM merely finishes the partial sums.

Every per-query planning decision lives in ONE planner (_plan_query),
which returns one QueryPlan value: the positive and exclusion strategy,
tau/thetas, k_eff, the verify flag and the cost estimates. search()
executes it, plan_summary() (the reference's --strats analog,
cli.rs:326-341) prints it after running the same planning jobs (term
metadata read, within count, probe) but not the scoring job, and
batch_search() forms its per-query thetas with the same pure
tau/theta function (_tau_thetas).

Per-query instrumentation (the reference's --stats analog,
cli.rs:14-96, dump at cli.rs:510-512): `search_with_stats` records the
plan value's strategy and tau, blocks decoded / total, postings
decoded, and wall time per query to the warehouse's query_metrics
table.
"""

from __future__ import annotations

import math
import re
import time
import uuid
from collections.abc import Iterator
from dataclasses import dataclass
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import B, K1
from . import catalog
from .build import Warehouse
from .codec import decode_ids_signed, decode_positions_flat, u64_to_i64_order, varint_decode, xxhash64
from .oracle import parse_query
from .tokenize import py_tokenize

RESULT_SCHEMA = "doc_id long, score double"
DECODED_IDS_SCHEMA = "doc_id long"
DECODED_IDS_PROV_SCHEMA = "term string, salt int, block_id int, doc_id long"
PARTIAL_SCHEMA = "doc_id long, score double, hits int"
SCORED_SCHEMA = "term string, doc_id long, tscore double"

# per-warehouse session cache: config + corpus stats + memoized per-term
# metadata (bucket, df, block summary) — repeated searches touch no
# parquet metadata and run no extra jobs for known terms
_WH_CACHE: dict[str, dict] = {}


def _sql_str(s: str) -> str:
    """Single-quoted Spark SQL string literal (escaped)."""
    return "'" + str(s).replace("\\", "\\\\").replace("'", "\\'") + "'"


def _sql_double(x: float) -> str:
    """Exact double literal: python repr is the shortest round-trip
    decimal, and Java's Double.parseDouble returns the nearest double —
    i.e. the same bits back."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def _values_df(spark: SparkSession, row_sql: list[str], cols: str) -> DataFrame:
    """Driver-known small relation as an inline-VALUES LocalRelation.

    createDataFrame(list_of_rows) builds an RDD-backed plan: every
    collect or join against it launches a real job and pays python
    pickling both ways — measured 220-370 ms to collect TEN rows on a
    warm local[16] session, the single largest hidden cost of the
    verification fast path and the batch per-query fan-out maps. A
    VALUES LocalRelation lives JVM-side: collect is driver-only
    (no job), and broadcast hashing happens on the driver. Only for
    k-bounded / query-bounded row counts (the SQL text is O(rows))."""
    return spark.sql(f"SELECT * FROM VALUES {', '.join(row_sql)} AS t({cols})")


def _kind_filtered(rel: DataFrame, kind: int) -> DataFrame | None:
    """Select one kind partition of the postings table, or the whole
    table on pre-v8 layouts that never wrote a kind column (for kind=0
    that IS the doc-ordered blocks; for kind=1 there are no impact
    copies — return None so callers skip impact routing)."""
    if "kind" in rel.columns:
        return rel.filter(F.col("kind") == kind)
    return rel if kind == 0 else None


def _wh_state(spark: SparkSession, wh: Warehouse) -> dict:
    st = _WH_CACHE.get(wh.root)
    if st is None:
        cfg = wh.read_manifest("config")
        if not cfg:
            raise FileNotFoundError(f"no config manifest under {wh.root}")
        st = {
            "cfg": cfg,
            "stats": wh.corpus_stats(spark),
            "plans": {},  # resolved-plan memo: (query, k, mode, prune,
            # probe, with_url, within) -> lazy top-k DataFrame (or the
            # pre-verification plan + tau for neg/within pruned shapes).
            # A repeated interactive query then skips parsing, planning,
            # py4j plan construction and Catalyst analysis entirely —
            # every collect still re-executes the physical plan from the
            # parquet inputs (plans are cached, never results), and the
            # memo dies with the warehouse state on append/rebuild
            # (invalidate_cache) exactly like the stats memos above.
            "buckets": {},
            "dfs": {},  # per-term document frequency (scale-safe memo:
            # only queried terms, never the full term_stats table)
            "bstats": {},  # per-term block summary (ub_wand/full_min_wand/
            # n_blocks) for driver-side WAND pruning
            # keeps the FileIndex warm across queries (re-listing bucket
            # dirs per query is pure metadata overhead). kind=0 = the
            # doc_id-ordered positional blocks; the impact copies (kind=1)
            # live in the same table behind partition pruning. Pre-v8
            # warehouses have no kind partition at all — the whole table
            # IS the doc-ordered blocks, so the filter is skipped (same
            # graceful degradation as impact_terms/block_stats).
            "postings_rel": _kind_filtered(
                catalog.read_table(spark, wh.root, "postings"), 0
            ),
            "term_stats_rel": catalog.read_table(spark, wh.root, "term_stats"),
            "block_stats_rel": None,  # lazy: absent on pre-round-2 indexes
            "impact_terms": None,  # lazy: terms with impact-ordered copies
            "impact_rel": None,
        }
        _WH_CACHE[wh.root] = st
    return st


def _term_dfs(spark, st: dict, wh: Warehouse, terms: list[str]) -> dict[str, int]:
    """df per live term, memoized. Served from term_block_stats when the
    index has it: n_postings there IS df (exactly one posting per
    (term, doc)), and loading through _term_block_stats fills the
    pruning metadata cache from the SAME collect — a cold query then
    pays ONE metadata round trip instead of two. Pre-summary indexes
    fall back to the term_stats table."""
    missing = [t for t in terms if t not in st["dfs"]]
    if missing and _block_stats_rel(spark, st, wh) is not False:
        _term_block_stats(spark, st, wh, missing)  # fills st["dfs"] too
        missing = [t for t in terms if t not in st["dfs"]]
    if missing:
        rows = st["term_stats_rel"].filter(F.col("term").isin(missing)).select("term", "df").collect()
        found = {r["term"]: int(r["df"]) for r in rows}
        for t in missing:
            st["dfs"][t] = found.get(t)  # None = not in corpus (memoized too)
    return {t: st["dfs"][t] for t in terms if st["dfs"][t] is not None}


def _block_stats_rel(spark, st: dict, wh: Warehouse):
    if st["block_stats_rel"] is None:
        try:
            rel = catalog.read_table(spark, wh.root, "term_block_stats")
            # absent or pre-format-2 table -> no pruning (never wrong results)
            st["block_stats_rel"] = rel if "top_wands" in rel.columns else False
        except Exception:
            st["block_stats_rel"] = False  # table absent; remember that
    return st["block_stats_rel"]


def _term_block_stats(spark, st: dict, wh: Warehouse, terms: list[str]) -> dict[str, dict]:
    """Per-term pruning metadata from term_block_stats, memoized. Returns
    only terms that have a row; an index built before the summary stage
    existed simply yields {} (pruning then falls back to exhaustive)."""
    if _block_stats_rel(spark, st, wh) is False:
        return {}
    missing = [t for t in terms if t not in st["bstats"]]
    if missing:
        rel = st["block_stats_rel"]
        has_ladder = "impact_ladder" in rel.columns
        rows = rel.filter(F.col("term").isin(missing)).collect()
        found = {
            r["term"]: {
                "n_blocks": int(r["n_blocks"]),
                "n_postings": int(r["n_postings"]),
                "ub_wand": float(r["ub_wand"]),
                "top_wands": [float(x) for x in r["top_wands"]],
                "impact_ladder": (
                    [[float(x) for x in lad] for lad in r["impact_ladder"]]
                    if has_ladder and r["impact_ladder"] is not None
                    else None
                ),
            }
            for r in rows
        }
        for t in missing:
            st["bstats"][t] = found.get(t)
            if found.get(t) is not None:
                # n_postings == df (one posting per (term, doc)): the same
                # collect serves _term_dfs, halving cold-query round trips
                st["dfs"][t] = found[t]["n_postings"]
    return {t: st["bstats"][t] for t in terms if st["bstats"].get(t) is not None}


def _unpersist_state(st: dict | None) -> None:
    for df in (st or {}).get("_persisted", []):
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped


def invalidate_cache(root: str | None = None) -> None:
    """Drop the per-warehouse driver memo (and unpersist any
    warm_postings() executor cache — a stale cached relation must never
    outlive an append/rebuild that changed the table underneath it)."""
    if root is None:
        for st in _WH_CACHE.values():
            _unpersist_state(st)
        _WH_CACHE.clear()
    else:
        _unpersist_state(_WH_CACHE.pop(root, None))


def warm_postings(
    spark: SparkSession,
    warehouse: str | Warehouse,
    include_impact: bool = True,
    storage_level: str = "MEMORY_AND_DISK",
) -> int:
    """Pin the posting blocks in executor memory for a query-serving
    session: persists the doc_id-ordered relation (and the
    impact-ordered copies) and materializes them with one count. A warm
    single-term query then skips the parquet read entirely — measured
    ~100-130 ms off the interactive floor at sf0.1 ('physics' pruned
    403 -> 276 ms, 'the' 365 -> 257 ms). In-memory scans still prune:
    Spark's InMemoryTableScan keeps per-batch column stats, so the
    bucket/term/theta predicates skip cached batches the way row-group
    stats skip parquet.

    Cache lifecycle is owned by the warehouse memo: append_index /
    build_index call invalidate_cache(root), which unpersists — a
    post-append query re-reads the (now multi-segment) table instead of
    serving the stale cache. At cluster scale the persist is
    partition-LRU: hot buckets stay resident, cold ones fall back to
    the parquet scan — cap executor memory, not correctness. Returns
    the number of cached block rows."""
    from pyspark import StorageLevel

    wh = warehouse if isinstance(warehouse, Warehouse) else Warehouse(warehouse)
    st = _wh_state(spark, wh)
    lvl = getattr(StorageLevel, storage_level)
    persisted = st.setdefault("_persisted", [])
    rels = [st["postings_rel"]]
    if include_impact:
        _impact_terms(spark, st, wh)  # loads impact_rel when present
        if st.get("impact_rel") is not None:
            rels.append(st["impact_rel"])
    n = 0
    for rel in rels:
        if any(rel is p for p in persisted):
            continue
        rel.persist(lvl)
        n += rel.count()
        persisted.append(rel)
    return n


def _empty_results(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], RESULT_SCHEMA)


def _empty_batch_results(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], "query_id string, doc_id long, score double")


def _plan_cache_put(st: dict, key, entry: dict) -> None:
    plans = st.setdefault("plans", {})
    if len(plans) >= 512:  # bound driver memory; a serving session's
        plans.clear()  # working set is far smaller than the cap
    plans[key] = entry


def _attach_url(spark: SparkSession, st: dict, root: str, topk: DataFrame) -> DataFrame:
    """topk -> (doc_id, score, url) via the broadcast docs join (the
    docs relation is memoized in the warehouse state so repeated
    with_url queries re-list no parquet metadata)."""
    docs = st.get("docs_rel")
    if docs is None:
        docs = catalog.read_table(spark, root, "docs").select("doc_id", "url")
        st["docs_rel"] = docs
    return (
        F.broadcast(topk).join(docs, "doc_id")
        .select("doc_id", "score", "url")
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


def _replay_cached_batch(spark: SparkSession, wh: Warehouse, hit: dict) -> DataFrame:
    """Serve a repeated batch from its memoized plan. kind='df' is the
    fully-lazy shared-scan plan (collect re-executes it). kind='routed'
    re-invokes search() for every routed-out query (each re-runs its own
    pruned job + verification via the search plan memo) and rebuilds the
    union — routed results are never frozen into the cached plan."""
    if hit["kind"] == "df":
        return hit["df"]
    parts = []
    for qid, qstr in hit["routed"]:
        res = search(spark, wh, qstr, k=hit["k"], mode=hit["mode"], prune=True)
        parts.append(res.select(F.lit(qid).alias("query_id"), "doc_id", "score"))
    rdf = parts[0]
    for p in parts[1:]:
        rdf = rdf.unionAll(p)
    out = rdf if hit["shared"] is None else hit["shared"].unionAll(rdf)
    return out.orderBy("query_id", F.desc("score"), F.asc("doc_id"))


def _replay_cached_search(spark: SparkSession, wh: Warehouse, st: dict, pkey: tuple, hit: dict) -> DataFrame:
    """Serve a repeated query from its memoized plan. kind='df' returns
    the lazy plan as-is (collect re-executes it). kind='verify'
    (pruned negation / within) RE-RUNS the pruned job and the
    a-posteriori verification on every call — only the plan and tau are
    reused, never the rows. A shortfall replaces the entry with the
    exhaustive plan (kind='df'; exact for any data): the memo dies with
    the warehouse state on append, so the same shortfall would recur and
    pay the pruned job on top of the exhaustive one on every call."""
    if hit["kind"] == "df":
        return hit["df"]
    query, k, mode, _prune, _probe, with_url, within = pkey
    rows = hit["pre"].collect()
    if not _verified(rows, k, hit["tau"]):
        exact = search(spark, wh, query, k=k, mode=mode, prune=False, with_url=with_url, within=within)
        _plan_cache_put(st, pkey, {"kind": "df", "df": exact})
        return exact
    topk = _rows_df(spark, rows)
    return _attach_url(spark, st, wh.root, topk) if with_url else topk


def _term_buckets(spark: SparkSession, st: dict, terms: list[str]) -> dict[str, int]:
    """xxhash64 bucket per term, computed DRIVER-SIDE with the pure-Python
    XXH64 twin (codec.xxhash64, fuzz-verified byte-compatible with the
    JVM) — round 2 paid one Spark job per cold query just for this hash."""
    missing = [t for t in terms if t not in st["buckets"]]
    if missing:
        n_buckets = int(st["cfg"]["n_buckets"])
        for t in missing:
            st["buckets"][t] = xxhash64(t) % n_buckets  # == Spark pmod
    return {t: st["buckets"][t] for t in terms}


def _postings_for(spark, wh: Warehouse, st: dict, terms: list[str]) -> DataFrame:
    """Partition-pruned block scan for the given terms (bucket dirs are
    Hive partitions -> only the needed shards are read)."""
    buckets = sorted(set(_term_buckets(spark, st, terms).values()))
    return st["postings_rel"].filter(F.col("bucket").isin(buckets) & F.col("term").isin(terms))


def _tf_dl_from_batch(pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    tfs = varint_decode(b"".join(bytes(x) for x in pdf["tfs"])).astype(np.float64)
    dls = varint_decode(b"".join(bytes(x) for x in pdf["doc_lens"])).astype(np.float64)
    return tfs, dls


def _decode_score_partials(
    blocks: DataFrame, idf_map: dict[str, float], avgdl: float, excl_bc=None
) -> DataFrame:
    """Fused decode + BM25 + per-batch aggregation: emits (doc_id, score,
    hits) PARTIALS instead of per-posting rows. Scoring runs in the same
    numpy pass that decoded the varints, the repeated term-string column
    never crosses Arrow, and np.unique/bincount collapse each batch's
    postings to its distinct docs before serialization — for multi-term
    queries that is both fewer bytes out of Python and less Tungsten
    hash-agg pressure (measured q6 'quantum neural spark' at 600k docs:
    1.19M posting rows -> partial rows bounded by distinct docs/batch).
    The JVM side finishes with groupBy(doc_id).sum — the same partial/
    final split Spark's own aggregate would do, just with the map side
    inside the decode kernel.

    excl_bc: optional broadcast of a SORTED np.int64 exclusion array
    (the '-term' docset fast path): matching postings are dropped right
    after decode via one searchsorted per batch — set-identical to the
    LEFT ANTI join it replaces, minus the join's shuffle."""
    ad = max(avgdl, 1e-9)

    def it(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ex = excl_bc.value if excl_bc is not None else None
        for pdf in batches:
            if not len(pdf):
                continue
            nd = pdf["n_docs"].to_numpy().astype(np.int64)
            ids = _ids_from_batch(pdf, nd)
            tfs, dls = _tf_dl_from_batch(pdf)
            idf = np.repeat(pdf["term"].map(idf_map).to_numpy(np.float64), nd)
            tsc = idf * tfs * (K1 + 1.0) / (tfs + K1 * (1.0 - B + B * dls / ad))
            if ex is not None and ex.size:
                pos = np.searchsorted(ex, ids)
                pos[pos == ex.size] = 0
                keep = ex[pos] != ids
                if not keep.all():
                    ids, tsc = ids[keep], tsc[keep]
                if ids.size == 0:
                    continue
            u, inv = np.unique(ids, return_inverse=True)
            yield pd.DataFrame(
                {
                    "doc_id": u,
                    "score": np.bincount(inv, weights=tsc),
                    "hits": np.bincount(inv).astype(np.int32),
                }
            )

    return blocks.select("term", "n_docs", "doc_ids", "tfs", "doc_lens").mapInPandas(it, PARTIAL_SCHEMA)


def _decode_score_terms(blocks: DataFrame, idf_map: dict[str, float], avgdl: float) -> DataFrame:
    """Fused decode + BM25 keeping the term column: (term, doc_id,
    tscore) per posting — for batch_search, whose per-query fan-out
    joins on term. tf/doc_len stay inside the kernel."""
    ad = max(avgdl, 1e-9)

    def it(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            nd = pdf["n_docs"].to_numpy().astype(np.int64)
            ids = _ids_from_batch(pdf, nd)
            tfs, dls = _tf_dl_from_batch(pdf)
            idf = np.repeat(pdf["term"].map(idf_map).to_numpy(np.float64), nd)
            tsc = idf * tfs * (K1 + 1.0) / (tfs + K1 * (1.0 - B + B * dls / ad))
            yield pd.DataFrame(
                {"term": np.repeat(pdf["term"].to_numpy(), nd), "doc_id": ids, "tscore": tsc}
            )

    return blocks.select("term", "n_docs", "doc_ids", "tfs", "doc_lens").mapInPandas(it, SCORED_SCHEMA)


def _ids_from_batch(pdf: pd.DataFrame, nd: np.ndarray) -> np.ndarray:
    """Decode all doc_id columns of a block batch in one numpy pass."""
    gaps = varint_decode(b"".join(bytes(x) for x in pdf["doc_ids"]))
    offs = np.concatenate(([0], np.cumsum(nd)))
    starts = offs[:-1]
    csum = np.cumsum(gaps, dtype=np.uint64)
    base = csum[starts] - gaps[starts]
    return u64_to_i64_order(csum - np.repeat(base, nd)).astype(np.int64)


def _decode_blocks_ids_only(blocks: DataFrame) -> DataFrame:
    """doc_ids-only decode: reads/decodes ONLY the doc_ids blob (parquet
    column pruning skips tfs/doc_lens/positions entirely). Used for
    negation ('-term'), where tf/doc_len of the excluded term are dead
    weight — for stopword exclusions this is the difference between
    decoding one varint stream and three."""

    def it(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            nd = pdf["n_docs"].to_numpy().astype(np.int64)
            yield pd.DataFrame({"doc_id": _ids_from_batch(pdf, nd)})

    return blocks.select("n_docs", "doc_ids").mapInPandas(it, DECODED_IDS_SCHEMA)


def _decode_blocks_ids_prov(blocks: DataFrame) -> DataFrame:
    """doc_ids decode with block provenance (term, salt, block_id) — the
    cheap phase-1 pass of phrase_search: candidate docs are intersected
    on these rows BEFORE any positional blob is decoded."""

    def it(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            nd = pdf["n_docs"].to_numpy().astype(np.int64)
            yield pd.DataFrame(
                {
                    "term": np.repeat(pdf["term"].to_numpy(), nd),
                    "salt": np.repeat(pdf["salt"].to_numpy().astype(np.int32), nd),
                    "block_id": np.repeat(pdf["block_id"].to_numpy().astype(np.int32), nd),
                    "doc_id": _ids_from_batch(pdf, nd),
                }
            )

    return blocks.select("term", "salt", "block_id", "n_docs", "doc_ids").mapInPandas(it, DECODED_IDS_PROV_SCHEMA)


def _idf(n_docs: int, df: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


# Negation docset fast path ceiling: below this many excluded postings
# the driver fetches the raw doc_ids blobs in ONE column-pruned job
# (~2.5 bytes/id compressed), decodes them vectorized, and broadcasts
# the sorted id array into the positive side's decode kernel — killing
# both the executor-side ids decode of the excluded term's blocks and
# the anti-join shuffle (measured ~1s of the "-the" wall at 600k docs).
# Above it (a >90%-df exclusion at true corpus scale) the distributed
# LEFT ANTI is the plan that fits executor/driver memory.
_NEG_DOCSET_MAX_POSTINGS = 8_000_000

# batch_search route-out gate: pulling a stopword-heavy query OUT of the
# shared scan adds one search() plan subtree to the single action —
# roughly a per-stage scheduler round trip plus its own pruned decode.
# Expressed in decoded-block units (the currency the estimators speak):
# the exhaustive "the" scan decodes ~4,700 blocks in ~0.7 s at 600k docs
# => ~7k blocks/s, and the extra subtree costs ~0.3 s ≈ 2k blocks. A
# query is routed out only when the shared scan is estimated to shrink
# by MORE than the query's own pruned cost plus this constant, so the
# decision is robust to the constant within a few x either way.
_ROUTE_OUT_BLOCK_COST = 2_048


def _ids_per_term(spark, wh, st, terms: list[str]) -> dict[str, np.ndarray]:
    """Driver-decoded doc_id sets, one SORTED np.int64 array per term:
    ONE column-pruned job fetches the raw doc_ids blobs (~2.5 bytes/id
    compressed) for every uncached term, vectorized-decodes them on the
    driver. Memoized per warehouse + term — single-query docset
    exclusions and batch unions share the cache. Callers gate total
    volume (_NEG_DOCSET_MAX_POSTINGS) BEFORE calling."""
    cache = st.setdefault("term_ids_cache", {})
    missing = sorted(t for t in terms if t not in cache)
    if missing:
        rows = _postings_for(spark, wh, st, missing).select("term", "doc_ids").collect()
        parts: dict[str, list] = {t: [] for t in missing}
        for r in rows:
            parts[r["term"]].append(decode_ids_signed(bytes(r["doc_ids"])))
        for t in missing:
            cache[t] = (
                np.unique(np.concatenate(parts[t])).astype(np.int64)
                if parts[t]
                else np.empty(0, np.int64)
            )
    return {t: cache[t] for t in terms}


def _neg_docset(spark, wh, st, neg: list[str]):
    """Broadcast sorted np.int64 exclusion ids of the live '-term's (the
    planner already checked their volume against _NEG_DOCSET_MAX_POSTINGS).
    Memoized per warehouse + term set — repeat queries with the same
    exclusion reuse the broadcast."""
    key = tuple(sorted(neg))
    cache = st.setdefault("docset_bc", {})
    if key in cache:
        return cache[key]
    per_term = _ids_per_term(spark, wh, st, list(key))
    arrs = [a for a in per_term.values() if a.size]
    ids = np.unique(np.concatenate(arrs)) if arrs else np.empty(0, np.int64)
    bc = spark.sparkContext.broadcast(ids.astype(np.int64))
    cache[key] = bc
    return bc


# Range-pruned exclusion: candidate-count ceiling for the broadcast
# range semi-join (the broadcast side is the POSITIVE candidate set,
# bounded by sum(df_pos) — driver-known before any job runs).
_NEG_RANGE_MAX_CAND = 200_000


def _neg_range_prune(spark, wh, st, neg: list[str], live: list[str]) -> DataFrame:
    """The scale plan for tiny-positive / huge-exclusion negation
    ('w0003 -the' at web scale): instead of decoding the excluded
    term's ENTIRE doc_ids (O(df_neg) — the last O(corpus) query shape),
    range-prune its blocks against the positive candidate set first.
    Within a (term, salt), blocks hold sorted disjoint doc_id ranges,
    so a block can exclude a candidate only if [min_doc_id, max_doc_id]
    intersects the candidate set — a broadcast range semi-join on block
    METADATA (same machinery as phrase_search), then ids-decode of the
    ~min(df_pos, n_blocks) surviving blocks: O(df_pos) work however hot
    the excluded term is.

    Returns the pruned excluded-ids DataFrame for the live '-term's
    (the planner already checked _neg_range_eligible). The candidate set
    is an ids-only decode of the POSITIVE terms' postings (cheaper than
    the scoring decode, and a superset of any pruned positive plan's
    candidates — sound for exclusion whichever plan scores)."""
    cand = _decode_blocks_ids_only(_postings_for(spark, wh, st, live)).distinct()
    blocks = _range_semi_join(_postings_for(spark, wh, st, sorted(neg)), cand)
    return _decode_blocks_ids_only(blocks)


def _neg_range_eligible(spark, wh, st, neg, dfs, live) -> bool:
    """ALL the _neg_range_prune gates for the live '-term's and positive
    terms, driver-side from term stats: candidates fit a broadcast, the
    exclusion is >=4x larger than the positive side so the prune pays,
    and the BNLJ probe product is bounded."""
    if "min_doc_id" not in st["postings_rel"].columns:
        return False
    sum_pos = sum(dfs[t] for t in live)
    sum_neg = sum(dfs[t] for t in neg)
    if sum_pos == 0 or sum_pos > _NEG_RANGE_MAX_CAND or sum_neg <= 4 * sum_pos:
        return False
    bs = _term_block_stats(spark, st, wh, neg)
    if len(bs) != len(neg):
        return False
    return sum_pos * sum(b["n_blocks"] for b in bs.values()) <= _PHRASE_BNLJ_MAX


def _range_semi_join(blocks: DataFrame, cand: DataFrame) -> DataFrame:
    """Keep only blocks whose [min_doc_id, max_doc_id] range holds a
    candidate doc_id (broadcast nested-loop semi-join on block METADATA
    — within a (term, salt) blocks are sorted disjoint ranges). The one
    shared implementation behind negation range-pruning and
    phrase_search's phase 1b."""
    return blocks.join(
        F.broadcast(cand),
        (F.col("doc_id") >= F.col("min_doc_id")) & (F.col("doc_id") <= F.col("max_doc_id")),
        "left_semi",
    )


# Exhaustive-decode fan-out floor: a term's blocks live in ONE bucket
# (term-hashed Hive partition) and, under the compact layout, in ~one
# term-sorted scan partition — so a hot term's full exhaustive decode is
# effectively single-threaded however many cores are idle (measured at
# 600k docs: "the" exhaustive 0.38s with one ~500k-posting decode task).
# Above this posting volume the single-positive-term path repartitions
# the COMPRESSED blocks before the decode kernel: one local exchange of
# the blobs buys full decode parallelism (~2M postings/s/core fused
# kernel => ~30ms of decode per 64k-posting task). Single-term only:
# per-doc scores there involve no cross-batch summation, so the result
# is bit-identical under any partitioning.
_FAN_OUT_MIN_POSTINGS = 65_536

# The inverse knob: a PRUNED scan that keeps at most this many blocks
# (~8k postings) is coalesced to a handful of tasks — at growing bucket
# counts the block relation's partition count grows (that is what keeps
# per-bucket bytes constant), and a ~k-block routed scan would launch
# one python-runner round trip per partition, nearly all empty.
_COALESCE_MAX_KEPT = 64


def _fan_out_blocks(spark, blocks: DataFrame, est_postings: int) -> DataFrame:
    par = spark.sparkContext.defaultParallelism
    if est_postings < 2 * _FAN_OUT_MIN_POSTINGS:
        return blocks
    return blocks.repartition(min(par, est_postings // _FAN_OUT_MIN_POSTINGS))


def _docs_unique(st: dict, live: list[str]) -> bool:
    """True when every doc is guaranteed to appear in at most ONE decode
    partial row: a single positive term on an unsegmented index (one
    (term, doc) posting index-wide; appended segments could in principle
    carry a repeated doc_id, so they keep the aggregating path)."""
    return len(live) == 1 and int(st["cfg"].get("n_appends", 0) or 0) == 0


def _agg_topk(
    partials: DataFrame,
    n_terms: int,
    mode: str,
    neg_docs: DataFrame | None,
    k: int,
    within_docs: DataFrame | None = None,
    unique_docs: bool = False,
    penalties: DataFrame | None = None,
) -> DataFrame:
    """Final aggregation over (doc_id, score, hits) partials. hits sums
    to the number of distinct query terms a doc matched (each (term,
    doc) posting exists exactly once index-wide), so AND filtering works
    on partials exactly as it did on per-posting rows. within_docs (the
    metadata-filter docset) restricts candidates by LEFT SEMI — the
    mirror of the neg anti-join; AQE broadcasts a small docset and falls
    back to a shuffle join at scale. penalties (doc_id, penalty) are the
    fully-decoded '~less' sums, subtracted from the surviving candidates
    (less terms never add candidates).

    unique_docs=True (single positive term, unsegmented index) skips the
    groupBy SHUFFLE STAGE entirely: each doc has exactly one (term, doc)
    posting index-wide, blocks partition postings and decode batches
    partition blocks, so every doc occurs in exactly one partial row
    already — TakeOrderedAndProject runs directly on the decode output
    (per-partition heap + driver merge, zero exchanges). This halves
    the interactive stage count for the most common query shape; the
    caller is responsible for the uniqueness precondition (appends can
    in principle re-introduce a doc_id in a new segment, so it is gated
    on n_appends == 0)."""
    if unique_docs:
        agg = partials  # one row per doc already; mode/n_terms trivial at 1 term
    else:
        agg = partials.groupBy("doc_id").agg(
            F.sum("score").alias("score"), F.sum("hits").alias("n_terms_hit")
        )
        if mode == "and":
            agg = agg.filter(F.col("n_terms_hit") == n_terms)
    if neg_docs is not None:
        agg = agg.join(neg_docs, "doc_id", "left_anti")
    if within_docs is not None:
        agg = agg.join(within_docs, "doc_id", "left_semi")
    if penalties is not None:
        agg = agg.join(penalties, "doc_id", "left").withColumn(
            "score", F.col("score") - F.coalesce(F.col("penalty"), F.lit(0.0))
        )
    # TakeOrderedAndProject: per-partition heap + driver merge, no global sort
    return agg.select("doc_id", "score").orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def _block_size(st: dict) -> int:
    return int(st["cfg"].get("block_size") or 128)


def _wand_ratio(st: dict) -> float:
    """Current avgdl / stored WAND-basis avgdl (config.wand_avgdl):
    appends drift avgdl while stored block stats keep the build basis.
    wand(A_q)/wand(A_w) is bounded by [min(1, A_q/A_w), max(1, A_q/A_w)]
    (the dl/avgdl term is the only avgdl-dependence and is monotone), so
    scaling upper bounds by max(1, ratio) and tau by min(1, ratio) keeps
    pruning EXACT under any drift — just slightly less aggressive."""
    avgdl = float(st["stats"]["avgdl"])
    return avgdl / max(float(st["cfg"].get("wand_avgdl") or avgdl), 1e-9)


def _keep_frac(n_docs: int, n_within: int | None, neg_df: int) -> float:
    """Estimated fraction of tau's witnesses that survive a within docset
    (|S|/n, exact from the count job) and '-term' exclusions (sum of
    df_neg/n, capped just below 1 — an impossible depth simply yields no
    tau). An independence heuristic only: it tunes the verify-fallback
    rate through _k_eff, never correctness."""
    keep = 1.0 if n_within is None else min(1.0, n_within / max(n_docs, 1))
    if neg_df:
        keep *= 1.0 - min(1.0 - 1e-9, neg_df / max(n_docs, 1))
    return keep


def _k_eff(k: int, keep_frac: float) -> int:
    """Witness depth for a tau that must survive a filter keeping
    keep_frac of the docs: proportionally deeper so ~k witnesses survive
    DESPITE binomial noise (margin 4*sqrt(k)+4 puts the shortfall
    probability well under 1%; a bare k/keep was measured to fall back
    ~25% of the time). Beyond the stored top_wands depth, impact ladders
    extend tau to any depth (so even "physics -the", k_eff ~ 1300, forms
    a tau); the a-posteriori verification keeps results exact either way."""
    if keep_frac >= 1.0:
        return k
    return math.ceil((k + 4.0 * math.sqrt(k) + 4.0) / max(keep_frac, 1e-9))


def _thetas_for_tau(
    live: list[str], idf_map: dict[str, float], bstats: dict[str, dict], tau: float, ratio: float,
) -> dict[str, float]:
    """Per-term stored-block_max_wand thresholds: a block of term t can
    hold a >=tau doc only if idf_t * bmax_stored * ub_corr + UB_others
    >= tau, i.e. bmax_stored >= (tau - UB_others) / (idf_t * ub_corr)."""
    ub_corr = max(1.0, ratio)
    ub = {t: idf_map[t] * bstats[t]["ub_wand"] * ub_corr for t in live}
    sum_ub = sum(ub.values())
    return {t: (tau - (sum_ub - ub[t])) / (idf_map[t] * ub_corr) for t in live}


def _wand_tau(
    live: list[str], idf_map: dict[str, float], bstats: dict[str, dict], k: int,
    ratio: float, block_size: int,
) -> float:
    """Driver-side WAND tau (-inf when none forms).

    tau = max over terms of idf_t * top_wands_t[k-1]: each of a term's k
    largest block maxima is achieved by a distinct real doc, so at least
    k docs have a true score >= tau -> tau lower-bounds the k-th best.
    tau is shaved by a relative epsilon so driver-side float rounding can
    never exceed the executor-side true k-th score, and scaled by
    min(1, ratio) (_wand_ratio)."""
    tau_corr = min(1.0, ratio)
    tau = float("-inf")
    for t in live:
        tw = bstats[t]["top_wands"]
        if len(tw) >= k:
            tau = max(tau, idf_map[t] * tw[k - 1] * tau_corr)
        else:
            # deeper than the stored top_wands: impact ladders extend the
            # k-th-best-block-max bound to ANY depth (negation k_eff on a
            # high-df exclusion routinely needs thousands)
            deep = _deep_kth_wand(bstats[t], k, block_size)
            if deep is not None:
                tau = max(tau, idf_map[t] * deep * tau_corr)
    if tau == float("-inf"):
        return tau
    return tau - (abs(tau) * 1e-9 + 1e-12)  # float-safety margin (still a lower bound)


def _tau_thetas(
    live: list[str], less: list[str], idf_map: dict[str, float], bstats: dict[str, dict],
    k: int, keep_frac: float, ratio: float, block_size: int,
) -> tuple[int, dict[str, float] | None, float]:
    """One query's (k_eff, thetas | None, tau), purely driver-side: the
    witness depth for the filter's keep fraction, the WAND tau at that
    depth, the '~less' correction, then the per-term thetas. The query
    planner and batch_search's per-query thetas / route-out estimates
    both call this, so they always agree. None means "no pruning
    possible" (a term without stats — the pruning inequality would
    underestimate sum_others — or no tau at this depth): the caller runs
    the plain exhaustive scan.

    '~less' correction: tau lower-bounds the k-th best POSITIVE sum (k
    distinct witness docs); each witness loses at most sum_t(idf_t *
    ub_wand_t) to the penalties, so tau - sum(UB_less) lower-bounds the
    k-th best FINAL score, and a top-k doc's positive sum >= its final
    >= tau. The positive-side block filter argument then applies
    verbatim; penalties are always decoded in full, so every kept doc's
    final score is exact."""
    k_eff = _k_eff(k, keep_frac)
    if not live or not all(t in bstats for t in live + less):
        return k_eff, None, float("-inf")
    tau = _wand_tau(live, idf_map, bstats, k_eff, ratio, block_size)
    if tau == float("-inf"):
        return k_eff, None, tau
    tau -= sum(idf_map[t] * bstats[t]["ub_wand"] * max(1.0, ratio) for t in less)
    return k_eff, _thetas_for_tau(live, idf_map, bstats, tau, ratio), tau


def _routing_cost(
    bstats: dict[str, dict], thetas: dict[str, float], imp: set[str], terms: list[str]
) -> tuple[int, int, bool]:
    """(est_kept, total, routed plan pays) for a theta-filtered scan of
    terms. The ladder estimators bound the blocks the thetas KEEP (2x
    tight for impact-routed terms, sound top_wands bound for cold ones;
    theta <= 0 keeps everything). Unless that cuts >40% of the candidate
    blocks, the plain exhaustive scan is strictly cheaper than the
    filtered/routed plan (no filter evaluation, no union, no impact read)
    — measured 1.15s vs 1.37s on "of and" with the single-term tau at
    600k docs."""
    est = sum(_est_kept_blocks(bstats[t], thetas[t], t in imp) for t in terms)
    tot = sum(bstats[t]["n_blocks"] for t in terms)
    return est, tot, est < 0.6 * tot


def _deep_kth_wand(bs: dict, k: int, block_size: int) -> float | None:
    """Lower bound on the wand value that at least k DISTINCT docs of
    this term reach, at ANY depth, from its impact ladder (per salt:
    [n, max@0, min@0, max@1, min@1, ... at power-of-two block_ids]).

    For a candidate value v: a sampled block_min_wand >= v at block_id
    b = 2^(j-1) proves EVERY posting in that salt's blocks 0..b scores
    >= v (mins are non-increasing across an impact list, and blocks
    partition the term's postings into distinct docs) — that is
    (b+1)*block_size docs when block b is not the salt's last (only the
    last block can be partial), else b*block_size + 1. Summed over
    salts, L(v) >= k docs contribute >= idf * v each — the top_wands
    tau argument at unbounded depth (a high-df negation's k_eff
    routinely needs thousands). Returns the largest sampled v with
    L(v) >= k, else None."""
    lads = bs.get("impact_ladder")
    if not lads:
        return None
    for v in sorted({m for lad in lads for m in lad[2::2]}, reverse=True):
        proven = 0
        for lad in lads:
            n_s, mins = int(lad[0]), lad[2::2]
            docs_at = 0
            for j, m in enumerate(mins):
                if m >= v:
                    b = 0 if j == 0 else 2 ** (j - 1)
                    docs_at = (b + 1) * block_size if b + 1 < n_s else b * block_size + 1
                else:
                    break
            proven += docs_at
        if proven >= k:
            return v
    return None


def _block_filter(terms: list[str], thetas: dict[str, float]):
    """OR of per-term (term == t AND block_max_wand >= theta_t): plain
    column comparisons pushed into the parquet scan, where row-group
    min/max stats on block_max_wand skip whole row groups (and for
    impact-ordered blocks, whole tail files)."""
    conds = []
    for t in terms:
        c = F.col("term") == t
        if thetas[t] > 0:
            c = c & (F.col("block_max_wand") >= F.lit(float(thetas[t])))
        conds.append(c)
    return reduce(lambda a, b: a | b, conds)


def _split_scan(st: dict, terms: list[str], imp: set[str], cond) -> DataFrame:
    """Bucket-partition-pruned block scan where hot terms (imp) read
    their impact-ordered copy (kind=1 partition) and cold terms their
    doc_id-ordered blocks, each side filtered by cond(its terms) pushed
    into the parquet scan."""
    parts = []
    for rel, ts in (
        (st["postings_rel"], [t for t in terms if t not in imp]),
        (st["impact_rel"], [t for t in terms if t in imp]),
    ):
        if ts:
            bks = sorted({st["buckets"][t] for t in ts})
            parts.append(rel.filter(F.col("bucket").isin(bks) & cond(ts)))
    return reduce(DataFrame.unionByName, parts)


def _routed_blocks(st: dict, live: list[str], thetas: dict[str, float], imp: set[str]) -> DataFrame:
    """The theta-filtered routed scan (one shared implementation behind
    search, AND-mode search and batch_search): hot terms read a
    block_max_wand-filtered prefix of their impact-ordered copy, cold
    terms their doc_id-ordered blocks, with the theta comparison pushed
    into the parquet scan."""
    return _split_scan(st, live, imp, lambda ts: _block_filter(ts, thetas)).select(
        "term", "n_docs", "doc_ids", "tfs", "doc_lens"
    )


def _impact_terms(spark, st: dict, wh: Warehouse) -> set[str]:
    """Terms with a complete impact-ordered posting copy (build.py impact
    stage; appends keep these terms covered). Memoized per warehouse;
    empty set on pre-v5 indexes (pruning then uses doc_id-ordered blocks)."""
    if st.get("impact_terms") is None:
        try:
            rows = catalog.read_table(spark, wh.root, "impact_terms").collect()
            st["impact_terms"] = {r["term"] for r in rows}
        except Exception:
            st["impact_terms"] = set()
        if st["impact_terms"]:
            st["impact_rel"] = _kind_filtered(
                catalog.read_table(spark, wh.root, "postings"), 1
            )
            if st["impact_rel"] is None:  # impact_terms table without a
                st["impact_terms"] = set()  # kind partition: inconsistent
    return st["impact_terms"]  # old layout — route nothing to impact


def _est_kept_blocks(bs: dict, theta: float, impact: bool) -> int:
    """Upper bound on the blocks a per-term theta keeps.

    Impact-routed terms use the stored ladder (per salt:
    [n_blocks, block_max_wand at block_ids 0,1,2,4,...]): maxima are
    non-increasing across an impact list, so the first sampled value
    below theta at block_id 2^(j-1) proves every later block is cut —
    a bound within 2x of truth for any theta. Cold terms fall back to
    top_wands: when theta exceeds the K_TOP-th stored maximum, every
    unstored block is provably cut, else unknown (all kept)."""
    n = bs["n_blocks"]
    if theta <= 0:
        return n
    if impact and bs.get("impact_ladder"):
        tot = 0
        for lad in bs["impact_ladder"]:
            n_s, maxima = int(lad[0]), lad[1::2]  # lad = [n, max@0, min@0, max@1, min@1, ...]
            kept = n_s
            for j, m in enumerate(maxima):
                if m < theta:
                    kept = 0 if j == 0 else 2 ** (j - 1)
                    break
            tot += min(kept, n_s)
        return min(tot, n)
    tw = bs["top_wands"]
    if tw and theta > tw[-1]:
        return sum(1 for m in tw if m >= theta)
    return n


# Probe-worthiness floor for probe="auto": the probe is one extra Spark
# job (~0.3s scheduler floor locally); the fused decode kernel sustains
# ~2M postings/sec on 16 cores, so below ~4M candidate postings the
# probe's fixed cost exceeds what the tighter tau can save. Above it
# (any real corpus) the probe's savings grow with corpus size while its
# cost stays one small job.
_PROBE_MIN_POSTINGS = 4_000_000

# Phrase range-prune gate: the block-metadata BNLJ probes every candidate
# doc_id against every other-term block range, so its cost is
# df_rare * n_other_blocks COMPARISONS while the decode it saves is
# bounded by n_other_blocks * block_size POSTINGS (~2M/sec/core fused
# decode vs ~20M/sec/core JVM range probes). Above this product the
# probe provably costs more than decoding everything; below it the
# semi-join's pruning wins whenever candidates cluster.
_PHRASE_BNLJ_MAX = 50_000_000


def _probe_tau(spark, st: dict, wh: Warehouse, terms: list[str], idf_map: dict[str, float],
               avgdl: float, k: int, conjunctive: bool = False, target_postings: int = 8192) -> float:
    """Refine tau with ONE small extra job: decode a ~target_postings
    prefix of every term's postings — the impact-ordered copy's head for
    hot terms (highest-wand postings first), the doc_id-ordered head
    otherwise — aggregate the partial BM25 sums per doc and take the
    k-th best (-inf when fewer than k docs qualify). This is the
    candidate pass of MaxScore, expressed as a prefix scan.

    Disjunctive (the hot terms of an OR query): every partial sum is
    achieved by a real doc (missing terms/blocks only lower it), so the
    k-th best partial is a valid lower bound on the true k-th best score
    — far tighter than the single-term bound for multi-stopword queries
    (measured at 600k docs, "of and": probe tau 0.2005 vs single-term
    0.1530, true k-th 0.2029). Depth matters: the refined tau comes from
    docs present in SEVERAL terms' prefixes, and for independent-ish
    term frequencies that overlap grows with prefix_depth^2 / n_docs — a
    2k prefix measured only ~8 overlapping docs at 600k (tau collapsed
    to the single-term bound) while 8k yields ~10x more.

    conjunctive=True (VERDICT r4 #7, MaxScore for AND; every live term):
    only docs that matched ALL terms WITHIN the prefix count. Each such
    doc genuinely contains every query term (each (term, doc) posting
    exists exactly once per routed copy, and every term routes to
    exactly one copy here, so hits == n_terms <=> all terms present),
    and its prefix sum only misses pruned-away positive contributions,
    so k such docs prove the true k-th best CONJUNCTIVE score >= the
    k-th best prefix sum -> a valid tau for the AND block filter.
    Selective conjunctions rarely fill k (the candidate-driven plan
    handles those)."""
    n_salts = max(1, int(st["cfg"].get("n_salts") or 1))
    per_salt = max(4, -(-target_postings // (_block_size(st) * n_salts)))
    probe = _split_scan(
        st, terms, _impact_terms(spark, st, wh),
        lambda ts: F.col("term").isin(ts) & (F.col("block_id") < per_salt),
    )
    agg = (
        _decode_score_partials(probe, {t: idf_map[t] for t in terms}, avgdl)
        .groupBy("doc_id")
        .agg(F.sum("score").alias("s"), F.sum("hits").alias("h"))
    )
    if conjunctive:
        agg = agg.filter(F.col("h") == len(terms))
    rows = agg.orderBy(F.desc("s")).limit(k).collect()
    if len(rows) < k:
        return float("-inf")
    s = float(rows[-1]["s"])
    return s - abs(s) * 1e-9 - 1e-12


def _and_candidate_blocks(spark, wh: Warehouse, st: dict, live: list[str], rare: str) -> DataFrame:
    """Candidate-driven conjunction — the selective-AND scale plan
    ('w0003 AND the' at web scale): every AND result must contain the
    RAREST term, so its doc_ids (one ids-only column-pruned decode,
    O(df_rare)) are the complete candidate set; the other terms' blocks
    are range-semi-joined against it on block METADATA before any
    decode (same machinery as phrase_search phase 1b / negation range
    pruning), making the whole query O(df_rare) however hot the other
    terms are.

    Exactness: a candidate doc's every other-term block covers its
    doc_id, hence intersects the candidate set and survives the
    semi-join -> candidates get complete scores and hit counts. A
    non-candidate doc lacks the rare term entirely, so its hit count
    can never reach n_terms and the AND filter drops it regardless of
    which of its blocks were decoded. rare is the seed the planner
    picked (_and_candidate_rare)."""
    others = [t for t in live if t != rare]
    cand = _decode_blocks_ids_only(_postings_for(spark, wh, st, [rare])).distinct()
    oblocks = _range_semi_join(_postings_for(spark, wh, st, others), cand)
    return _postings_for(spark, wh, st, [rare]).unionByName(oblocks)


def _and_candidate_rare(spark, wh: Warehouse, st: dict, live: list[str], dfs: dict[str, int]):
    """_and_candidate_blocks' driver-side gates, all from term stats
    (mirroring _neg_range_eligible: candidates fit the broadcast, the
    others are >=4x larger so the prune pays, and the BNLJ probe product
    is bounded): the seed term when the shape qualifies, else None."""
    if "min_doc_id" not in st["postings_rel"].columns:
        return None
    rare = min(live, key=lambda t: dfs[t])
    others = [t for t in live if t != rare]
    if not others:
        return None
    df_r, sum_o = dfs[rare], sum(dfs[t] for t in others)
    if df_r == 0 or df_r > _NEG_RANGE_MAX_CAND or sum_o <= 4 * df_r:
        return None
    bs = _term_block_stats(spark, st, wh, others)
    if len(bs) != len(others):
        return None
    if df_r * sum(b["n_blocks"] for b in bs.values()) > _PHRASE_BNLJ_MAX:
        return None
    return rare


@dataclass
class QueryPlan:
    """One query's resolved plan: the single value search() executes,
    plan_summary() prints and search_with_stats() records.

    strategy (positive side): 'empty' (statically no result),
    'exhaustive', 'routed' / 'routed+probe' (OR block-max WAND; thetas
    set), 'and-candidate[+neg][+less]' (seed set) or 'and-probe'
    (conjunctive probe tau; thetas set). neg_plan (exclusion side):
    'docset-kernel', 'range-anti' or 'anti-join'; None without a live
    '-term'. verify: the pruned result needs the a-posteriori check
    (its tau was deepened for an exclusion or a within docset). tau is
    -inf when none formed; it is recorded even when the cost gate kept
    the plan exhaustive."""

    query: str  # after wildcard / fuzzy rewrite
    k: int
    mode: str
    pos: list[str]  # parsed positive terms, including ones not in the corpus
    neg: list[str]  # '-term's in the corpus
    less: list[str]  # '~term's in the corpus
    dfs: dict[str, int]
    idf: dict[str, float]  # positive and '~less' terms in the corpus
    within_docs: DataFrame | None = None
    n_within: int | None = None
    strategy: str = "exhaustive"
    neg_plan: str | None = None
    k_eff: int = 0
    tau: float = float("-inf")
    thetas: dict[str, float] | None = None
    impact: frozenset = frozenset()  # live terms read from their impact-ordered copy
    seed: str | None = None
    verify: bool = False
    est_kept_blocks: int | None = None
    blocks_total: int | None = None

    @property
    def live(self) -> list[str]:
        return [t for t in self.pos if t in self.dfs]

    @property
    def label(self) -> str:
        return self.strategy + (f"+{self.neg_plan}" if self.neg_plan else "")


def _within_docs(spark, wh: Warehouse, within: DataFrame | str | None) -> DataFrame | None:
    """The within docset as a doc_id relation: a predicate over docs
    METADATA is pushed down into the parquet scan (only doc_id + the
    referenced columns are read)."""
    if within is None:
        return None
    if isinstance(within, str):
        return catalog.read_table(spark, wh.root, "docs").filter(F.expr(within)).select("doc_id")
    return within.select("doc_id")


def _plan_query(
    spark, wh: Warehouse, st: dict, query: str, k: int, mode: str, prune: bool,
    probe: bool | str, within: DataFrame | str | None,
) -> QueryPlan:
    """Every per-query planning decision, in one place. Runs only the
    planning jobs: the rewrite's vocabulary lookup, the term metadata
    read (dfs + block summaries in one collect for unknown terms; the
    term hash is driver-side), the within count and the probe."""
    if _needs_rewrite(query):
        query = expand_wildcards(spark, wh, query)
    pos, neg, less = parse_query(query)
    n_docs = int(st["stats"]["n_docs"])
    dfs: dict[str, int] = {}
    if pos:
        _term_buckets(spark, st, pos + neg + less)
        dfs = _term_dfs(spark, st, wh, pos + less + neg)
    p = QueryPlan(
        query=query, k=k, mode=mode, pos=pos,
        neg=[t for t in neg if t in dfs], less=[t for t in less if t in dfs], dfs=dfs,
        idf={t: _idf(n_docs, dfs[t]) for t in pos + less if t in dfs},
        within_docs=_within_docs(spark, wh, within), k_eff=k,
    )
    live = p.live
    bstats = _term_block_stats(spark, st, wh, live + p.less) if live else {}  # served by the dfs read
    p.blocks_total = sum(bstats[t]["n_blocks"] for t in live if t in bstats) or None
    if not live or (mode == "and" and len(live) < len(pos)):
        p.strategy = "empty"
        return p
    if p.neg:
        # '-term' exclusion, three exact plans by shape (all from term
        # stats): small exclusion -> docset fast path (driver-decoded
        # broadcast ids applied inside the decode kernel); tiny positive
        # + huge exclusion -> range-pruned anti-join (broadcast range
        # semi-join on excluded block metadata, O(df_pos) decode); else
        # distributed LEFT ANTI over the full excluded-ids decode (the
        # plan that always fits memory)
        if sum(dfs[t] for t in p.neg) <= _NEG_DOCSET_MAX_POSTINGS:
            p.neg_plan = "docset-kernel"
        elif _neg_range_eligible(spark, wh, st, p.neg, dfs, live):
            p.neg_plan = "range-anti"
        else:
            p.neg_plan = "anti-join"
    if prune and (mode == "or" or len(live) == 1):
        _plan_or(spark, wh, st, p, bstats, probe)  # single-term AND == OR
    elif prune:
        _plan_and(spark, wh, st, p, bstats, probe)
    if p.strategy == "empty":
        p.neg_plan = None
    p.verify = (
        p.strategy not in ("empty", "exhaustive")
        and (bool(p.neg) or p.within_docs is not None)
        and p.tau > float("-inf")
    )
    return p


def _plan_or(spark, wh: Warehouse, st: dict, p: QueryPlan, bstats: dict, probe: bool | str) -> None:
    """Disjunctive block-max WAND. Negation and within prune with a
    deeper tau (_keep_frac/_k_eff) and an A-POSTERIORI verification in
    search(): exactness never depends on the witnesses surviving the
    anti-join or the docset. '~less' prunes by LOWERING tau by the less
    terms' total upper bound (_tau_thetas). neg+less / within+less
    COMPOSE (r7): the deeper-tau k_eff and the less correction stack —
    tau then lower-bounds the k-th best FINAL score among survivors, and
    the verification (surviving k-th FINAL score >= the composed tau)
    covers any correlation, exactly as for plain negation."""
    live, n_docs = p.live, int(st["stats"]["n_docs"])
    if p.within_docs is not None:
        # the docset knocks out witnesses exactly like exclusion does;
        # its selectivity is EXACT (one narrow count job on the
        # pushed-down scan)
        p.n_within = p.within_docs.count()
        if p.n_within == 0:
            p.strategy = "empty"
            return
    keep = _keep_frac(n_docs, p.n_within, sum(p.dfs[t] for t in p.neg))
    ratio = _wand_ratio(st)
    p.k_eff, thetas, p.tau = _tau_thetas(live, p.less, p.idf, bstats, p.k, keep, ratio, _block_size(st))
    if thetas is None:
        return
    imp = _impact_terms(spark, st, wh)
    hot_live = [t for t in live if t in imp]
    # probe gate: (a) the single-term tau leaves some hot term
    # essentially unpruned (even its K_TOP-th best block survives) AND
    # (b) at most two terms carry the upper-bound mass — with >=3
    # balanced hot terms NO tau can prune (theta_t = (tau -
    # UB_others)/idf_t stays below every block max because UB_others
    # alone approaches any achievable tau), so the probe job would be
    # pure overhead (measured +0.5s on 3-term queries)
    weak = any(
        t in imp
        and bstats[t]["n_blocks"] > 2 * len(bstats[t]["top_wands"])
        and thetas[t] <= bstats[t]["top_wands"][-1]
        for t in live
    )
    ubs = sorted((p.idf[t] * bstats[t]["ub_wand"] * max(1.0, ratio) for t in live), reverse=True)
    two_term_shaped = sum(ubs[2:]) <= 0.15 * (sum(ubs[:2]) or 1.0)
    est_postings = sum(bstats[t]["n_blocks"] for t in live) * _block_size(st)
    probe_worth = probe is True or (probe == "auto" and est_postings >= _PROBE_MIN_POSTINGS)
    probed = bool(weak and two_term_shaped and len(live) > 1 and hot_live and probe_worth and not p.less)
    if probed:
        tau2 = _probe_tau(spark, st, wh, hot_live, p.idf, float(st["stats"]["avgdl"]), p.k_eff)
        if tau2 > p.tau:
            p.tau, thetas = tau2, _thetas_for_tau(live, p.idf, bstats, tau2, ratio)
    # probe=True forces the routed plan regardless of the cost gate
    # (callers use it to exercise/evidence the at-scale path)
    p.est_kept_blocks, _, pays = _routing_cost(bstats, thetas, imp, live)
    if probe is True or pays:
        # routed scan: hot terms read a tau-prefix of their impact-ordered
        # copy, cold terms the doc_id-ordered blocks
        p.strategy = "routed+probe" if probed else "routed"
        p.thetas, p.impact = thetas, frozenset(hot_live)


def _plan_and(spark, wh: Warehouse, st: dict, p: QueryPlan, bstats: dict, probe: bool | str) -> None:
    """Conjunctive pruning (VERDICT r4 #7), two exact plans by shape:

    1. CANDIDATE-DRIVEN (selective AND, 'w0003 the'): the rarest term's
       ids bound the result set; other terms' blocks are
       range-semi-joined against them before any decode -> O(df_rare)
       whatever the other terms' df. No tau involved.
    2. PROBE TAU (conjunctive stopword pair, 'of and'): the k-th best
       ALL-TERMS-HIT partial sum over a one-job prefix scan lower-bounds
       the true conjunctive k-th best, and the OR block filter (theta_t
       from the SUM of all terms' UBs) applies verbatim: a true-AND doc
       with score >= tau keeps every block (exact score AND complete hit
       count -> it survives the n_terms_hit filter), while any doc that
       lost a block has true score < tau and either fails the hit filter
       or ranks below the >= k exact docs. Its validity is a-priori.

    AND+neg and AND+less compose with plan 1 ONLY (VERDICT r5 #6, r7):
    the candidate-driven plan enumerates EVERY conjunctive match with a
    complete, exact positive score, so dropping excluded docs afterwards
    (whichever exclusion plan) and subtracting fully-decoded '~less'
    penalties leaves every survivor exact — no tau, no verification.
    Plan 2's tau is a-priori valid only for the UNfiltered conjunctive
    k-th best and has no less correction, so those shapes stay
    exhaustive when they miss plan 1's selectivity gate. within composes
    with plan 2 (r7): the probe asks for proportionally deeper witnesses
    (the OR path's k_eff) and search()'s a-posteriori verification makes
    the filtered result exact at any filter/term correlation."""
    live = p.live
    p.seed = _and_candidate_rare(spark, wh, st, live, p.dfs)
    if p.seed is not None:
        p.strategy = "and-candidate" + ("+neg" if p.neg else "") + ("+less" if p.less else "")
        return
    if p.neg or p.less or not all(t in bstats for t in live):
        return
    est_postings = sum(bstats[t]["n_blocks"] for t in live) * _block_size(st)
    if not (probe is True or (probe == "auto" and est_postings >= _PROBE_MIN_POSTINGS)):
        return
    if p.within_docs is not None:
        p.n_within = p.within_docs.count()
        if p.n_within == 0:
            p.strategy = "empty"
            return
    p.k_eff = _k_eff(p.k, _keep_frac(int(st["stats"]["n_docs"]), p.n_within, 0))
    p.tau = _probe_tau(spark, st, wh, live, p.idf, float(st["stats"]["avgdl"]), p.k_eff, conjunctive=True)
    if p.tau == float("-inf"):
        return
    thetas = _thetas_for_tau(live, p.idf, bstats, p.tau, _wand_ratio(st))
    imp = _impact_terms(spark, st, wh)
    p.est_kept_blocks, _, pays = _routing_cost(bstats, thetas, imp, live)
    if probe is True or pays:
        p.strategy = "and-probe"
        p.thetas, p.impact = thetas, frozenset(t for t in live if t in imp)


def _observe_blocks(blocks: DataFrame, stats: dict) -> DataFrame:
    """Count the blocks and postings a scoring job decodes; the
    *_with_stats wrappers read stats["_obs"] after the action."""
    from pyspark.sql import Observation

    obs = Observation(f"qstats_{uuid.uuid4().hex[:12]}")
    stats["_obs"] = obs
    return blocks.observe(
        obs, F.count(F.lit(1)).alias("blocks_decoded"), F.sum("n_docs").alias("postings_decoded")
    )


def _verified(rows: list, k: int, tau: float) -> bool:
    """The a-posteriori check of a pruned negation / within result."""
    return len(rows) == k and float(rows[-1]["score"]) >= tau


def _rows_df(spark: SparkSession, rows: list) -> DataFrame:
    """Verified top-k rows as a LocalRelation: rows are already (score
    DESC, doc_id ASC), a LocalRelation preserves insertion order on
    collect, and re-sorting k rows through orderBy would cost a
    range-partitioning sampling job."""
    return _values_df(
        spark, [f"({int(r['doc_id'])}L, {_sql_double(r['score'])})" for r in rows], "doc_id, score"
    )


def search(
    spark: SparkSession,
    warehouse: str | Warehouse,
    query: str,
    k: int = 10,
    mode: str = "or",
    prune: bool = True,
    with_url: bool = False,
    probe: bool | str = "auto",
    within: DataFrame | str | None = None,
    _stats: dict | None = None,
) -> DataFrame:
    """BM25 top-k. Returns DataFrame(doc_id, score[, url]) already ordered
    (score DESC, doc_id ASC) and limited to k.

    within restricts CANDIDATES to a metadata-filtered docset while
    ranking stats (idf, avgdl) stay corpus-global: a SQL predicate
    string over the docs table's metadata columns ("lang = 'en'",
    "warc_ts >= '2024-01-01'") — pushed down into the docs parquet
    scan — or a pre-built DataFrame with a doc_id column (materialize
    one once for repeated queries over the same slice). Applied as a
    LEFT SEMI on the aggregated candidates (the exact mirror of
    '-term' exclusion's anti-join). Pruning still works: the filter's
    selectivity deepens tau exactly like a '-term''s df does, and the
    same a-posteriori verification (k-th surviving score >= tau, else
    exhaustive rerun) keeps results exact at any correlation between
    the filter and the query terms. within+'~less' composes the same
    way (tau deepened by the filter's selectivity AND lowered by the
    less bound, verification on the surviving final scores), and so
    does the conjunctive probe-tau plan (deeper probe witnesses +
    verification, r7); the candidate-driven AND plan composes as-is.

    prune=True (the DEFAULT) enables driver-side block-max WAND (module
    docstring); results are exact. The cost-based planner picks between
    the routed/probed plan and the plain exhaustive scan per query
    (whichever the ladder estimators prove cheaper). Negation ('-term')
    DOES prune: a df-aware deeper tau plus a-posteriori verification
    (exhaustive rerun on shortfall). '~less' terms prune too (tau is
    lowered by the less terms' total upper bound). Depth is not
    K_TOP-bounded — impact ladders extend tau formation to any k.
    neg+less COMPOSES (r7): the df-aware deeper tau stacks with the
    less correction and the a-posteriori verification covers both.
    mode="and" prunes too, via two exact plans chosen by shape: a
    candidate-driven range semi-join seeded by the rarest term
    (selective conjunctions, O(df_rare)) or a conjunctive probe tau +
    block-max filter (stopword conjunctions). AND+neg AND AND+less
    prune through the candidate-driven plan (every conjunctive match
    carries an exact positive score before exclusion/penalties apply —
    no verification needed); shapes that miss its selectivity gate stay
    exhaustive, as do probe-not-worth-it shapes, or when stats are
    missing (pre-v2 indexes).

    probe governs the tau-refinement job for disjunctive multi-stopword
    shapes ("of and"): "auto" (default) runs it only when the estimated
    exhaustive decode volume exceeds _PROBE_MIN_POSTINGS — the probe is
    an EXTRA Spark job (~one scheduler floor), a fixed cost that beats
    exhaustive only when the posting volume it prunes is larger (at
    600k docs "of and" is ~1.1M postings ≈ 0.6s exhaustive, so the
    probe loses; at 60M docs the same shape is ~110M postings and the
    probe's prefix plan wins by an order of magnitude). True forces it
    (the at-scale plan, used by bench pruning evidence), False skips it.
    """
    wh = warehouse if isinstance(warehouse, Warehouse) else Warehouse(warehouse)
    st = _wh_state(spark, wh)
    # resolved-plan memo (keyed on the RAW query string, so wildcard/
    # fuzzy expansion is amortized too): instrumented calls and
    # DataFrame-valued within (no stable key) bypass it
    pkey = None
    if _stats is None and (within is None or isinstance(within, str)):
        pkey = (query, int(k), mode, bool(prune), probe, bool(with_url), within)
        hit = st.setdefault("plans", {}).get(pkey)
        if hit is not None:
            return _replay_cached_search(spark, wh, st, pkey, hit)

    def _cache_df(df: DataFrame) -> DataFrame:
        if pkey is not None:
            _plan_cache_put(st, pkey, {"kind": "df", "df": df})
        return df

    plan = _plan_query(spark, wh, st, query, k, mode, prune, probe, within)
    if _stats is not None:
        _stats["_plan"] = plan
    if plan.strategy == "empty":
        return _cache_df(_empty_results(spark))
    live, within_docs = plan.live, plan.within_docs
    avgdl = float(st["stats"]["avgdl"])

    excl_bc, neg_docs = None, None
    if plan.neg_plan == "docset-kernel":
        excl_bc = _neg_docset(spark, wh, st, plan.neg)
    elif plan.neg_plan == "range-anti":
        neg_docs = _neg_range_prune(spark, wh, st, plan.neg, live)
    elif plan.neg_plan == "anti-join":
        # no distinct(): LEFT ANTI is set-semantics already — deduping a
        # stopword's half-million ids would add a full shuffle for nothing
        neg_docs = _decode_blocks_ids_only(_postings_for(spark, wh, st, plan.neg))
    if _stats is not None and excl_bc is not None:
        # exclusion-side cost: the docset path's ids are on the driver
        # (exact count now); the distributed plans get an Observation on
        # the ids decode (read back in search_with_stats)
        _stats["neg_ids_decoded"] = int(excl_bc.value.size)
    elif _stats is not None and neg_docs is not None:
        from pyspark.sql import Observation

        obs_neg = Observation(f"negstats_{uuid.uuid4().hex[:12]}")
        neg_docs = neg_docs.observe(obs_neg, F.count(F.lit(1)).alias("neg_ids"))
        _stats["_obs_neg"] = obs_neg

    if plan.thetas is not None:
        blocks = _routed_blocks(st, live, plan.thetas, plan.impact)
        if plan.est_kept_blocks <= _COALESCE_MAX_KEPT:
            # a ~k-block scan over a many-partition relation (auto-buckets
            # grow with the corpus; warm_postings' cached relation keeps
            # one partition per scan split) otherwise launches a
            # python-runner task per partition, nearly all empty —
            # measured at 2.4M docs/65 buckets: pruned "the" paid 4+
            # waves of empty decode round trips. coalesce is narrow (no
            # shuffle) and row-preserving.
            blocks = blocks.coalesce(4)
    elif plan.seed is not None:
        blocks = _and_candidate_blocks(spark, wh, st, live, plan.seed)
    else:
        blocks = _postings_for(spark, wh, st, live)
    if _stats is not None:
        blocks = _observe_blocks(blocks, _stats)

    penalties = None
    if plan.less:
        penalties = (
            _decode_score_partials(_postings_for(spark, wh, st, plan.less), plan.idf, avgdl)
            .groupBy("doc_id").agg(F.sum("score").alias("penalty"))
        )

    def _mk_topk(blocks_df: DataFrame) -> DataFrame:
        """Final top-k over a block relation — shared by the first
        attempt and the verification fallback so exclusions, the docset
        and '~less' penalties apply IDENTICALLY on both."""
        partials = _decode_score_partials(blocks_df, plan.idf, avgdl, excl_bc)
        return _agg_topk(
            partials, len(live), mode, neg_docs, k, within_docs,
            unique_docs=_docs_unique(st, live), penalties=penalties,
        )

    if plan.strategy == "exhaustive" and _docs_unique(st, live):
        # zero-exchange single-term exhaustive path: parallelize the
        # decode of a hot term's single-partition block scan (see
        # _fan_out_blocks — bit-identical, volume-gated)
        blocks = _fan_out_blocks(spark, blocks, plan.dfs[live[0]])

    topk = _mk_topk(blocks)
    verified_entry = None
    if plan.verify:
        # A-POSTERIORI VERIFICATION (exactness proof for pruned negation
        # and within): every kept doc with POSITIVE-sum score >= tau has
        # ALL its blocks kept (the block filter keeps any block whose
        # bound reaches tau), so its score is exact; every pruned-away
        # doc has true positive sum < tau. With '~less' composed, tau was
        # ALSO lowered by the less terms' total upper bound, so a
        # surviving FINAL score (positive - penalty, penalties always
        # decoded in full) >= tau still implies every pruned doc ranks
        # strictly below (its final <= its positive < tau). If the
        # surviving top-k's k-th score >= tau, the k results are exact
        # and nothing pruned can displace or tie them. On a shortfall
        # (too many witnesses excluded) rerun exhaustively — the fallback
        # rate is bounded by the k_eff choice and recorded in
        # query_metrics.
        rows = topk.collect()
        if _verified(rows, k, plan.tau):
            # memoize the PRE-verification plan + tau: a repeated call
            # re-executes the pruned job and the check (plan reuse, not
            # result reuse)
            verified_entry = {"kind": "verify", "pre": topk, "tau": plan.tau}
            topk = _rows_df(spark, rows)
        else:
            # the exhaustive plan is memoized below (kind='df'): it is
            # exact for any data, and this shape would fall short again
            # on every repeat
            blocks = _postings_for(spark, wh, st, live)
            if _stats is not None:
                blocks = _observe_blocks(blocks, _stats)
            topk = _mk_topk(blocks)
        if _stats is not None:
            _stats["prune_verified" if verified_entry else "prune_fallback"] = True

    if with_url:
        topk = _attach_url(spark, st, wh.root, topk)
    if verified_entry is None:
        return _cache_df(topk)
    if pkey is not None:
        _plan_cache_put(st, pkey, verified_entry)
    return topk


def batch_search(
    spark: SparkSession,
    warehouse: str | Warehouse,
    queries: dict[str, str] | list[str],
    k: int = 10,
    mode: str = "or",
    prune: bool = True,
    within: DataFrame | str | None = None,
    _stats: dict | None = None,
) -> DataFrame:
    """Amortized multi-query BM25: ONE Spark job scores EVERY query.

    within applies ONE batch-global metadata docset (predicate string
    over docs metadata or a doc_id DataFrame, see search()) to every
    query: LEFT SEMI before the per-query top-k window. A within batch
    PRUNES (r7): per-query thetas form at the filter-deepened depth
    (k_eff from the docset's keep fraction, as in search()) and a
    BATCHED a-posteriori verification — one collect, each pruned
    query's k-th surviving score checked against its composed tau —
    reruns only the failed queries through search() (filtered,
    unpruned). Exact per query at any filter/term correlation; routed
    queries carry the docset into search(), which verifies them itself.

    Interactive `search` latency is dominated by the per-job scheduler
    floor (~0.3s locally); evaluation pipelines that run thousands of
    queries per pass (the realistic 100 TB shape) should batch instead:
    a single partition-pruned scan decodes the union of all query terms
    once, a tiny broadcast (query_id, term) map fans scores out per
    query, and per-query top-k comes from one window.

    prune=True (default, OR mode only) applies block-max WAND to the
    SHARED scan: each query forms its own per-term thetas exactly as
    search() does, and a block of term t survives when ANY query keeps
    it — theta_union[t] = min over queries of theta_t(q). Per query the
    kept set is a superset of its single-query kept set, so the
    single-query exactness proof applies verbatim: every doc with true
    score >= tau_q keeps all its blocks (exact score), every other doc's
    partial score stays strictly below tau_q, and the per-query window
    top-k is exact. Hot terms route to their impact-ordered copies; the
    planner falls back to the plain exhaustive scan when the ladder
    estimators show the thetas keep most blocks anyway.

    ROUTE-OUT (VERDICT r5 #3): the theta union means ONE stopword-heavy
    or unprunable query drags the shared scan toward exhaustive for
    every query ("the -biology" anchors theta["the"] at -inf and the
    whole 25-query reference batch decodes the stopword in full — the
    r5 758 ms/query regression). The planner therefore estimates, per
    query, its own single-query pruned cost (est_own, the blocks
    search()'s WAND would decode — for '-neg' queries at the deepened
    k_eff search() uses) against its marginal cost on the shared scan,
    and greedily pulls out queries whose removal saves more than
    est_own + _ROUTE_OUT_BLOCK_COST. Routed queries score through
    search() (pruned, per-query-exact, including its a-posteriori neg
    verification) and union back into the same result; queries whose
    terms then vanish from the shared scan stop being decoded at all.
    neg+less queries route too (r8): their estimate composes the
    df-aware deeper tau with the '~less' correction — the same plan
    search() executes and verifies for the compound shape.

    '-term' exclusions are supported two ways, gated on the union of
    excluded terms' total df: under _NEG_DOCSET_MAX_POSTINGS the
    per-term id arrays are driver-decoded ONCE (cache shared with
    search()'s docset path), merged per query, broadcast, and applied
    as a vectorized searchsorted filter before the top-k window — a
    batch of 1,000 queries each excluding "the" decodes the stopword
    once, with no per-query anti-join shuffle; over the gate, a
    distributed ids-only decode + per-query LEFT ANTI join (fanned out
    by a broadcast map) fits memory at any df. Queries with exclusions
    run unpruned within the batch — search()'s a-posteriori tau
    verification has no batched analog. Batches in mode="and" also run
    unpruned (the shared-scan theta union has no conjunctive analog;
    single queries DO prune AND via search()). '~less' terms
    are supported exactly as in search(): candidates come from the
    positive terms only, penalties are decoded in full from the union
    of all queries' less terms and fanned out per query by a second
    broadcast map, and such a query's positive-side thetas use the
    tau-lowered-by-less-upper-bound correction (so it still
    contributes pruning to the shared scan instead of forcing it
    exhaustive).

    Returns DataFrame(query_id, doc_id, score): per-query top-k, ordered
    (query_id ASC, score DESC, doc_id ASC).
    """
    from pyspark.sql import Window

    wh = warehouse if isinstance(warehouse, Warehouse) else Warehouse(warehouse)
    st = _wh_state(spark, wh)
    # batch plan memo (mirror of search()'s): keyed on the ordered
    # (query_id, query) tuple. Routed-out queries are NOT frozen into
    # the cached plan — replay re-invokes search() for each (which
    # re-executes its pruned job + a-posteriori verification), so reuse
    # is strictly plan-level. Instrumented / within calls bypass.
    bkey = None
    if _stats is None and within is None:
        items_t = (
            tuple((str(a), b) for a, b in queries.items())
            if isinstance(queries, dict)
            else tuple(queries)
        )
        bkey = (items_t, int(k), mode, bool(prune))
        bhit = st.setdefault("bplans", {}).get(bkey)
        if bhit is not None:
            return _replay_cached_batch(spark, wh, bhit)

    def _bcache_put(entry: dict) -> None:
        if bkey is not None:
            plans = st["bplans"]
            if len(plans) >= 256:
                plans.clear()
            plans[bkey] = entry

    def _bcache_df(df: DataFrame) -> DataFrame:
        _bcache_put({"kind": "df", "df": df})
        return df

    qmap: dict[str, list[str]] = {}
    qneg: dict[str, list[str]] = {}
    qless: dict[str, list[str]] = {}
    qtext: dict[str, str] = {}
    items = queries.items() if isinstance(queries, dict) else ((f"q{i}", q) for i, q in enumerate(queries))
    for qid, q in items:
        if _needs_rewrite(q):
            q = expand_wildcards(spark, wh, q)
        pos, neg, less = parse_query(q)
        qmap[str(qid)] = pos
        qneg[str(qid)] = neg
        qless[str(qid)] = less
        qtext[str(qid)] = q
    all_terms = sorted({t for ts in qmap.values() for t in ts})
    all_neg = sorted({t for ts in qneg.values() for t in ts})
    all_less = sorted({t for ts in qless.values() for t in ts})
    if not all_terms:
        return _bcache_df(_empty_batch_results(spark))
    stats = st["stats"]
    n_docs, avgdl = int(stats["n_docs"]), float(stats["avgdl"])
    dfs = _term_dfs(spark, st, wh, all_terms + all_neg + all_less)
    live = sorted(t for t in all_terms if t in dfs)
    if not live:
        return _bcache_df(_empty_batch_results(spark))
    live_less = [t for t in all_less if t in dfs]
    idf_map = {t: _idf(n_docs, dfs[t]) for t in live + live_less}
    within_docs = _within_docs(spark, wh, within)

    # ---- per-query WAND thetas + route-out decision -------------------
    # The shared scan decodes each term ONCE under the union (min) of
    # every query's theta, so one stopword-heavy query drags the scan
    # toward exhaustive for EVERY query (BENCH_r05: the full 25-query
    # reference set ran 758 ms/query batched while the same queries run
    # ~0.5 s each interactively under per-query WAND). Estimate, per
    # prunable query, (a) est_own — blocks its OWN single-query WAND
    # would decode via search() — and (b) its marginal cost on the
    # shared scan (extra blocks the union decodes because its thetas
    # are the min). Greedily route out the query with the largest net
    # saving until none clears the fixed cost of an extra plan subtree;
    # routed queries score through search() (pruned, single-query-exact)
    # and union back in — still ONE action, per-query top-k unchanged.
    plan, blocks_total = "exhaustive", None
    theta_map: dict[str, dict[str, float]] = {}
    tau_map: dict[str, float] = {}
    est_own: dict[str, float] = {}
    bstats = None
    imp: set = set()
    # within COMPOSES with the batch-pruned shared scan (r7): per-query
    # thetas form at a filter-deepened depth (the batch-global docset's
    # keep fraction) and a BATCHED a-posteriori verification below
    # checks every pruned query's k-th surviving score against its tau,
    # rerunning only the failures — shared-scan amortization with
    # per-query exactness.
    n_within = None
    if prune and mode == "or":
        bstats = _term_block_stats(spark, st, wh, live + live_less)
        if not all(t in bstats for t in live):
            bstats = None
        elif within_docs is not None:
            n_within = within_docs.count()
            if n_within == 0:
                return _empty_batch_results(spark)
    if bstats is not None:
        ratio, bsz = _wand_ratio(st), _block_size(st)
        imp = _impact_terms(spark, st, wh)
        for qid, ts in qmap.items():
            lq = [t for t in ts if t in dfs]
            lneg = [t for t in qneg[qid] if t in dfs]
            lless = [t for t in qless[qid] if t in dfs]
            # the same tau/thetas search()'s planner forms for this query
            # (within and '-neg' deepen k_eff, '~less' lowers tau)
            keep = _keep_frac(n_docs, n_within, sum(dfs[t] for t in lneg))
            _, thetas, tau = _tau_thetas(lq, lless, idf_map, bstats, k, keep, ratio, bsz)
            if thetas is None:
                continue
            if not lneg:
                theta_map[qid], tau_map[qid] = thetas, tau
            # a '-neg' query (and, r8, neg+less) stays UNPRUNED in-batch:
            # its shared-scan theta stays -inf, since the shared scan has
            # no batched analog of search()'s a-posteriori verification.
            # It is ROUTABLE: search() prunes it with exactly these
            # thetas + verify. One such query otherwise anchors its
            # positive terms at full decode for the WHOLE batch ("the
            # -biology" forces "the" exhaustive for all 25 reference
            # queries — the r5 758 ms/query regression's root shape).
            est_own[qid] = _routing_cost(bstats, thetas, imp, lq)[0]

    def _theta_union(excl: set) -> dict[str, float]:
        """Shared-scan thetas over the queries NOT in excl: a block of
        term t survives when ANY query keeps it (an unpruned query
        contributes -inf)."""
        th: dict[str, float] = {}
        for qid, ts in qmap.items():
            if qid in excl:
                continue
            thetas = theta_map.get(qid)
            for t in ts:
                if t in dfs:
                    th[t] = min(th.get(t, float("inf")), thetas[t] if thetas else float("-inf"))
        return th

    routed_out: list[str] = []
    if bstats is not None and est_own:

        def _shared_cost(excl: set) -> float:
            """Estimated decode cost (blocks) of the shared scan over the
            queries NOT in excl — modelling the SAME exhaustive-vs-routed
            choice the downstream gate makes, so a route-out only counts
            as saving when the executed plan actually shrinks. (The r5
            regression's shape: removing 'the -biology' doesn't help
            while another query still holds 'the' in an exhaustive scan.)"""
            th = _theta_union(excl)
            if not th:
                return 0.0
            est, tot, pays = _routing_cost(bstats, th, imp, list(th))
            return est if pays else tot

        base = _shared_cost(set())
        while True:
            best, best_net = None, 0.0
            for qid in est_own:
                if qid in routed_out:
                    continue
                save = base - _shared_cost({*routed_out, qid})
                net = save - est_own[qid] - _ROUTE_OUT_BLOCK_COST
                if net > best_net:
                    best, best_net = qid, net
            if best is None:
                break
            routed_out.append(best)
            base = _shared_cost(set(routed_out))

    routed_df = None
    routed_specs: list[tuple[str, str]] = []
    if routed_out:
        parts = []
        for qid in routed_out:
            routed_specs.append((qid, qtext[qid]))
            # within rides along: the routed query must honor the same
            # batch-global docset (search prunes + verifies it itself)
            res = search(spark, wh, qtext[qid], k=k, mode=mode, prune=True, within=within_docs)
            parts.append(res.select(F.lit(qid).alias("query_id"), "doc_id", "score"))
            del qmap[qid], qneg[qid], qless[qid]
        routed_df = parts[0]
        for p in parts[1:]:
            routed_df = routed_df.unionAll(p)
        # the shared scan now covers only the remaining queries' terms —
        # a stopword that appeared ONLY in routed queries drops out of
        # the scan entirely (the whole point)
        live = sorted({t for ts in qmap.values() for t in ts if t in dfs})

    pairs = [(qid, t, len([x for x in ts if x in dfs])) for qid, ts in qmap.items() for t in ts if t in dfs]
    if not pairs:
        if _stats is not None:
            _stats.update(
                {"plan": f"routed-out:{len(routed_out)}", "blocks_total": blocks_total,
                 "routed_out": list(routed_out)}
            )
        if routed_df is not None:
            _bcache_put(
                {"kind": "routed", "shared": None, "routed": routed_specs, "k": k, "mode": mode}
            )
            return routed_df.orderBy("query_id", F.desc("score"), F.asc("doc_id"))
        return _bcache_df(_empty_batch_results(spark))
    qterms = _values_df(
        spark,
        [f"({_sql_str(q)}, {_sql_str(t)}, {int(n)})" for q, t, n in pairs],
        "query_id, term, n_terms",
    )

    blocks = _postings_for(spark, wh, st, live)
    if bstats is not None and live:
        theta_u = _theta_union(set())
        _, blocks_total, pays = _routing_cost(bstats, theta_u, imp, live)
        if pays:
            blocks = _routed_blocks(st, live, theta_u, imp)
            plan = "routed-batch"
    if routed_out:
        plan = f"{plan}+routed-out:{len(routed_out)}"
    if _stats is not None:
        _stats.update({"plan": plan, "blocks_total": blocks_total, "routed_out": list(routed_out)})
        blocks = _observe_blocks(blocks, _stats)

    scored = _decode_score_terms(blocks, idf_map, avgdl)
    joined = scored.join(F.broadcast(qterms), "term")
    agg = joined.groupBy("query_id", "doc_id").agg(
        F.sum("tscore").alias("score"),
        F.count("*").alias("n_hit"),
        F.max("n_terms").alias("n_terms"),
    )
    if mode == "and":
        agg = agg.filter(F.col("n_hit") == F.col("n_terms"))
    less_pairs = [(qid, t) for qid, ts in qless.items() for t in ts if t in dfs]
    if less_pairs:
        lmap = _values_df(
            spark,
            [f"({_sql_str(q)}, {_sql_str(t)})" for q, t in less_pairs],
            "query_id, term",
        )
        less_terms = sorted({t for _, t in less_pairs})
        lscored = _decode_score_terms(_postings_for(spark, wh, st, less_terms), idf_map, avgdl)
        pen = (
            lscored.join(F.broadcast(lmap), "term")
            .groupBy("query_id", "doc_id")
            .agg(F.sum("tscore").alias("penalty"))
        )
        agg = agg.join(pen, ["query_id", "doc_id"], "left").withColumn(
            "score", F.col("score") - F.coalesce(F.col("penalty"), F.lit(0.0))
        )
    neg_pairs = [(qid, t) for qid, ts in qneg.items() for t in ts if t in dfs]
    if neg_pairs:
        neg_terms = sorted({t for _, t in neg_pairs})
        if sum(dfs[t] for t in neg_terms) <= _NEG_DOCSET_MAX_POSTINGS:
            # docset fast path, batched (same gate as search()'s
            # single-query path): the union of excluded terms is small
            # enough to driver-decode ONCE (per-term arrays shared with
            # the single-query cache), merge per query, and broadcast —
            # a batch of 1,000 queries each excluding "the" decodes the
            # stopword once, not once per query, and the per-query
            # LEFT ANTI shuffle disappears entirely (one vectorized
            # searchsorted filter before the top-k window instead).
            plan = plan + "+docset"
            per_term = _ids_per_term(spark, wh, st, neg_terms)
            qarr = {}
            for qid, ts in qneg.items():
                arrs = [per_term[t] for t in ts if t in per_term and per_term[t].size]
                if arrs:
                    qarr[qid] = np.unique(np.concatenate(arrs))
            bc = spark.sparkContext.broadcast(qarr)
            if _stats is not None:
                _stats["plan"] = plan  # already written above; refresh
                _stats["neg_plan"] = "docset-batch"
                _stats["neg_ids_decoded"] = int(sum(a.size for a in per_term.values()))

            @F.pandas_udf("boolean")
            def _keep(qid_s: pd.Series, did_s: pd.Series) -> pd.Series:
                m = bc.value
                ids = did_s.to_numpy(np.int64)
                out = np.ones(ids.size, bool)
                for q in qid_s.unique():
                    arr = m.get(q)
                    if arr is None or not arr.size:
                        continue
                    mask = (qid_s == q).to_numpy()
                    sub = ids[mask]
                    pos = np.searchsorted(arr, sub)
                    pos[pos == arr.size] = 0
                    out[mask] &= arr[pos] != sub
                return pd.Series(out)

            agg = agg.filter(_keep(F.col("query_id"), F.col("doc_id")))
        else:
            # over the gate (a >90%-df exclusion at true corpus scale):
            # distributed ids decode + per-query LEFT ANTI — the plan
            # that fits executor/driver memory at any df
            nq = _values_df(
                spark,
                [f"({_sql_str(q)}, {_sql_str(t)})" for q, t in neg_pairs],
                "query_id, term",
            )
            nids = _decode_blocks_ids_prov(
                _postings_for(spark, wh, st, neg_terms)
            ).select("term", "doc_id")
            excl = nids.join(F.broadcast(nq), "term").select("query_id", "doc_id")
            agg = agg.join(excl, ["query_id", "doc_id"], "left_anti")
            if _stats is not None:
                _stats["neg_plan"] = "anti-join"
    if within_docs is not None:
        agg = agg.join(within_docs, "doc_id", "left_semi")
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    shared_out = (
        agg.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "doc_id", "score")
    )
    out = shared_out
    if routed_df is not None:
        out = out.unionAll(routed_df)
    out = out.orderBy("query_id", F.desc("score"), F.asc("doc_id"))
    if routed_specs:
        _bcache_put(
            {"kind": "routed", "shared": shared_out, "routed": routed_specs, "k": k, "mode": mode}
        )
    else:
        _bcache_df(out)

    if within_docs is not None and plan.startswith("routed-batch") and tau_map:
        # BATCHED a-posteriori verification (r7): the shared scan pruned
        # under filter-deepened thetas whose taus bound the UNFILTERED
        # k-th best, so each pruned query's k-th surviving score must
        # reach its composed tau — the same exactness proof as
        # search()'s, checked for the whole batch from ONE collect.
        # Failures (filter/term correlation beyond the k_eff margin)
        # rerun individually through search() (unpruned, filtered);
        # queries whose theta never formed decoded their terms in full
        # under the -inf union and need no check. The result returns as
        # an inline-VALUES LocalRelation in final order (driver-side
        # sort; no extra job).
        rows = out.collect()
        by_q: dict[str, list] = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(r)
        redo = [
            qid
            for qid, tau_q in tau_map.items()
            if qid in qmap  # routed-out queries verified inside search()
            and tau_q > float("-inf")
            and not (
                len(by_q.get(qid, [])) == k
                and float(by_q[qid][k - 1]["score"]) >= tau_q
            )
        ]
        if _stats is not None:
            _stats["within_verified"] = len(tau_map) - len(redo)
            _stats["within_fallbacks"] = list(redo)
        for qid in redo:
            fixed = search(
                spark, wh, qtext[qid], k=k, mode=mode, prune=False, within=within_docs
            ).collect()
            by_q[qid] = [
                {"query_id": qid, "doc_id": r["doc_id"], "score": r["score"]} for r in fixed
            ]
        flat = [
            (str(r["query_id"]), int(r["doc_id"]), float(r["score"]))
            for rs in by_q.values()
            for r in rs
        ]
        flat.sort(key=lambda x: (x[0], -x[2], x[1]))
        if not flat:
            return _empty_batch_results(spark)
        return _values_df(
            spark,
            [f"({_sql_str(q)}, {d}L, {_sql_double(s)})" for q, d, s in flat],
            "query_id, doc_id, score",
        )
    return out


# ----------------------------------------------------- query instrumentation
def _obs_counts(
    obs,
    names: tuple = ("blocks_decoded", "postings_decoded"),
    *,
    known_empty: bool = False,
    allow_eliminated: bool = False,
) -> tuple:
    """Observation metrics, hardened for eliminated observe nodes: AQE's
    empty-relation propagation can replace an observed subtree —
    CollectMetrics included — with a LocalRelation, so the execution
    ends with NO metrics row and Observation.get throws (jrow has no
    schema). An eliminated observe node means nothing flowed through it:
    zeros are the EXACT values, not a fallback.

    Two sound guards, no exception-text matching (the "assertion failed"
    message is Spark-version/Connect-dependent, so substring-matching
    could zero a real failure on another version):

    - `known_empty`: the CALLER collected the result and saw zero rows.
      Right for observations on the main scoring plan — that subtree can
      only be eliminated when the whole result is statically empty.
    - `allow_eliminated`: the observed node sits on a SIDE branch (the
      '-term' exclusion feed of a LEFT ANTI join) that AQE can find
      empty at runtime and drop even though the main result is
      non-empty — e.g. 'tiebreak -the' when the range prune keeps zero
      excluded blocks: the final adaptive plan contains no join and no
      CollectMetrics, and 0 ids decoded is precisely what happened. The
      caller only passes this AFTER its action succeeded, so the failure
      can't be masking a query error (a dead session/driver fails the
      action itself, not just the metrics read)."""
    if obs is None:
        return tuple(0 for _ in names)
    try:
        vals = obs.get
    except Exception:  # noqa: BLE001 — see docstring for why this is
        # trusted: either the action returned zero rows, or the observed
        # branch was adaptively eliminated after a successful action
        if known_empty or allow_eliminated:
            return tuple(0 for _ in names)
        raise
    return tuple(int(vals[n] or 0) for n in names)


def _write_query_metrics(wh: Warehouse, info: dict) -> None:
    """Append one query_metrics row (driver-side pyarrow through the
    Hadoop FS seam — a 1-row Spark write costs seconds of scheduler
    overhead). Schema mirrors the reference's per-run stats report
    (cli.rs:58-70, 120-128)."""
    import os

    import pyarrow as pa

    from . import fsio

    table = pa.table(
        {
            "ts": pa.array([time.time()], pa.float64()),
            "query": pa.array([info.get("query")], pa.string()),
            "terms": pa.array([",".join(info.get("terms") or [])], pa.string()),
            "k": pa.array([int(info.get("k") or 0)], pa.int32()),
            "mode": pa.array([info.get("mode")], pa.string()),
            "prune": pa.array([bool(info.get("prune"))], pa.bool_()),
            "plan": pa.array([info.get("plan")], pa.string()),
            "tau": pa.array([info.get("tau")], pa.float64()),
            "blocks_total": pa.array([info.get("blocks_total")], pa.int64()),
            "blocks_decoded": pa.array([info.get("blocks_decoded")], pa.int64()),
            "postings_decoded": pa.array([info.get("postings_decoded")], pa.int64()),
            # exclusion-side ids decoded (None for positive-only queries);
            # consumers read with mergeSchema=true, so pre-existing
            # metrics fragments without the column read as null
            "neg_ids_decoded": pa.array([info.get("neg_ids_decoded")], pa.int64()),
            "rows_returned": pa.array([info.get("rows_returned")], pa.int64()),
            "wall_ms": pa.array([info.get("wall_ms")], pa.float64()),
        }
    )
    fsio.write_parquet_bytes(
        os.path.join(wh.path("query_metrics"), f"part-{uuid.uuid4().hex}.parquet"), table
    )


def read_query_metrics(spark: SparkSession, warehouse: str | Warehouse) -> DataFrame:
    """The query_metrics table, schema-merged across all fragments.

    Metrics rows accumulate one parquet file per query across engine
    versions, so the directory legitimately mixes schemas (e.g. the
    'plan' column appeared in v8). A bare spark.read.parquet resolves
    ONE sampled footer and would nondeterministically drop newer
    columns — mergeSchema unions them (absent columns read as null)."""
    wh = warehouse if isinstance(warehouse, Warehouse) else Warehouse(warehouse)
    return spark.read.option("mergeSchema", "true").parquet(wh.path("query_metrics"))


def search_with_stats(
    spark: SparkSession,
    warehouse: str | Warehouse,
    query: str,
    k: int = 10,
    mode: str = "or",
    prune: bool = True,
    probe: bool | str = "auto",
    within: DataFrame | str | None = None,
) -> tuple[list, dict]:
    """Run a search eagerly and record per-query metrics — the analog of
    the reference's --stats surface (cli.rs:14-56 per-op stats, dump at
    cli.rs:510-512): blocks decoded vs total, postings decoded, wall ms.
    Returns (rows, stats_dict); also appends a row to query_metrics.
    prune/probe default to MATCH search()'s defaults — the instrumented
    path must measure the same plan a production search runs."""
    wh = warehouse if isinstance(warehouse, Warehouse) else Warehouse(warehouse)
    info: dict = {}
    t0 = time.time()
    rows = search(
        spark, wh, query, k=k, mode=mode, prune=prune, probe=probe, within=within, _stats=info
    ).collect()
    wall_ms = (time.time() - t0) * 1000.0
    plan: QueryPlan = info.pop("_plan")
    empty = len(rows) == 0
    info.update(
        {
            "query": plan.query, "k": k, "mode": mode, "prune": prune, "terms": plan.live,
            "plan": plan.label,  # e.g. "routed+docset-kernel" / "exhaustive+anti-join"
            "neg_plan": plan.neg_plan,
            "tau": None if plan.tau == float("-inf") else plan.tau,
            "est_kept_blocks": plan.est_kept_blocks,
            "blocks_total": plan.blocks_total,
            "rows_returned": len(rows),
            "wall_ms": wall_ms,
        }
    )
    if within is not None:
        info["within"] = within if isinstance(within, str) else "<docset>"
    info["blocks_decoded"], info["postings_decoded"] = _obs_counts(info.pop("_obs", None), known_empty=empty)
    obs_neg = info.pop("_obs_neg", None)
    if obs_neg is not None:
        info["neg_ids_decoded"] = _obs_counts(
            obs_neg, ("neg_ids",), known_empty=empty, allow_eliminated=True
        )[0]
    _write_query_metrics(wh, info)
    return rows, info


def batch_search_with_stats(
    spark: SparkSession,
    warehouse: str | Warehouse,
    queries: dict[str, str] | list[str],
    k: int = 10,
    mode: str = "or",
    prune: bool = True,
) -> tuple[list, dict]:
    """batch_search, instrumented: ONE job for every query, plus one
    query_metrics row per batch query (shared blocks/wall — the batch
    amortizes the scan, so per-query attribution is the batch total,
    flagged by the 'batch:' prefix). Returns (rows, stats)."""
    from pyspark.sql import Observation

    wh = warehouse if isinstance(warehouse, Warehouse) else Warehouse(warehouse)
    items = list(queries.items()) if isinstance(queries, dict) else [(f"q{i}", q) for i, q in enumerate(queries)]
    obs = Observation(f"batch_{uuid.uuid4().hex[:12]}")
    binfo: dict = {}
    # wall timer starts BEFORE batch_search(): routed-out queries execute
    # EAGERLY inside it (search()'s planning jobs, probes, and the
    # '-neg' a-posteriori verification collect all run before the plan
    # is returned), so timing only the final collect would exclude
    # exactly the work route-out adds (ADVICE r6)
    t0 = time.time()
    out = batch_search(spark, wh, dict(items), k=k, mode=mode, prune=prune, _stats=binfo)
    out = out.observe(obs, F.count(F.lit(1)).alias("rows_out"))
    rows = out.collect()
    wall = (time.time() - t0) * 1000.0
    per_q: dict[str, int] = {}
    for r in rows:
        per_q[r["query_id"]] = per_q.get(r["query_id"], 0) + 1
    bobs = binfo.pop("_obs", None)
    if bobs is not None:
        binfo["blocks_decoded"], binfo["postings_decoded"] = _obs_counts(bobs, known_empty=not rows)
    info = {
        "n_queries": len(items),
        "rows_out": _obs_counts(obs, ("rows_out",), known_empty=not rows)[0],
        "wall_ms": wall,
        **binfo,
    }
    routed = set(binfo.get("routed_out") or [])
    for qid, q in items:
        is_routed = str(qid) in routed
        _write_query_metrics(
            wh,
            {
                "query": f"batch:{qid}:{q}",
                "terms": parse_query(q)[0],
                "k": k,
                "mode": mode,
                "prune": prune,
                # routed-out queries executed as standalone search()
                # calls inside the batch: their decoded blocks never
                # reach the batch Observation, so their rows must not be
                # read as shared-scan cost (ADVICE r6) — flag them and
                # blank the shared counters
                "plan": "batch-routed-out" if is_routed else binfo.get("plan"),
                "tau": None,
                # shared-scan attribution: blocks/postings are the BATCH
                # totals, repeated on every non-routed row of the batch
                "blocks_total": None if is_routed else binfo.get("blocks_total"),
                "blocks_decoded": None if is_routed else binfo.get("blocks_decoded"),
                "postings_decoded": None if is_routed else binfo.get("postings_decoded"),
                "rows_returned": per_q.get(str(qid), 0),
                "wall_ms": wall,
            },
        )
    return rows, info


_NEG_PLAN_TEXT = {
    "docset-kernel": "broadcast docset, kernel-side exclusion",
    "range-anti": "range-pruned anti-join: excluded blocks semi-joined vs candidates",
    "anti-join": "LEFT ANTI, doc_ids-only decode",
}


def plan_summary(
    spark: SparkSession,
    warehouse: str | Warehouse,
    query: str,
    k: int = 10,
    mode: str = "or",
    prune: bool = True,
    within: DataFrame | str | None = None,
) -> str:
    """The `--strats` analog (reference summarize_runs cli.rs:326-341,
    dispatch cli.rs:439-441): the plan search() executes for the same
    arguments — terms, buckets, dfs, positive and exclusion strategy,
    tau and per-term thetas — formatted from the same plan value
    (_plan_query). Runs search()'s planning jobs (term metadata read,
    within count, probe) but not the scoring job."""
    wh = warehouse if isinstance(warehouse, Warehouse) else Warehouse(warehouse)
    st = _wh_state(spark, wh)
    p = _plan_query(spark, wh, st, query, k, mode, prune, "auto", within)
    pos, neg, less = parse_query(p.query)
    buckets = _term_buckets(spark, st, pos + neg + less)
    bstats = _term_block_stats(spark, st, wh, p.live) if p.live else {}
    lines = [f"rewrite: {query!r} -> {p.query!r}"] if p.query != query else []
    lines.append(
        f"query: {p.query!r}  k={k} mode={mode} prune={prune}  corpus n_docs={int(st['stats']['n_docs'])}"
    )
    for t in pos:
        if t not in p.dfs:
            lines.append(f"  +{t}: NOT IN CORPUS (dropped)")
            continue
        line = f"  +{t}: df={p.dfs[t]} idf={p.idf[t]:.4f} bucket={buckets[t]}"
        if t in bstats:
            line += f" blocks={bstats[t]['n_blocks']} ub={p.idf[t] * bstats[t]['ub_wand']:.4f}"
        lines.append(line)
    for t in less:
        lines.append(f"  ~{t}: df={p.dfs.get(t, 0)} (negative-weight scorer)")
    for t in neg:
        lines.append(f"  -{t}: bucket={buckets[t]} df={p.dfs.get(t, 0)}")
    if within is not None:
        n = "" if p.n_within is None else f" ({p.n_within} docs)"
        lines.append(f"  within: {within if isinstance(within, str) else '<docset>'!r}{n}")
    lines.append(f"  plan: {p.label}")
    if p.seed is not None:
        lines.append(
            f"  AND: candidate-driven (seed={p.seed!r} df={p.dfs[p.seed]}; other terms' "
            "blocks range-semi-joined vs seed ids before decode)"
        )
    if p.neg_plan:
        lines.append(f"  exclusion: {p.neg_plan} ({_NEG_PLAN_TEXT[p.neg_plan]})")
    if prune:
        tau = "none" if p.tau == float("-inf") else repr(p.tau)
        lines.append(
            f"  WAND: tau={tau} k_eff={p.k_eff} est_kept_blocks={p.est_kept_blocks} of {p.blocks_total}"
            + ("; verified a posteriori, exhaustive rerun on shortfall" if p.verify else "")
        )
        for t, theta in (p.thetas or {}).items():
            route = "impact-prefix" if t in p.impact else "doc-ordered"
            lines.append(f"    {t}: theta={theta:.4f} route={route}")
    return "\n".join(lines)


DECODED_POS_SCHEMA = "term string, doc_id long, tf int, doc_len int, positions array<int>"


def _decode_blocks_with_positions(blocks: DataFrame) -> DataFrame:
    """Like _decode_blocks but also restores per-doc position lists
    (vectorized segmented cumsum, no per-doc python loop)."""

    def it(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs = []
            for term, ids_b, tfs_b, dls_b, pos_b in zip(
                pdf["term"], pdf["doc_ids"], pdf["tfs"], pdf["doc_lens"], pdf["positions"]
            ):
                ids = decode_ids_signed(bytes(ids_b))
                tfs = varint_decode(bytes(tfs_b))
                dls = varint_decode(bytes(dls_b))
                pvals, poffs = decode_positions_flat(bytes(pos_b), tfs)
                pv32 = pvals.astype(np.int32)
                outs.append(
                    pd.DataFrame(
                        {
                            "term": term,
                            "doc_id": ids.astype(np.int64),
                            "tf": tfs.astype(np.int32),
                            "doc_len": dls.astype(np.int32),
                            "positions": [pv32[poffs[i] : poffs[i + 1]] for i in range(len(ids))],
                        }
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return blocks.select("term", "doc_ids", "tfs", "doc_lens", "positions").mapInPandas(it, DECODED_POS_SCHEMA)


def sweep_phrase_scratch(warehouse: str | Warehouse, keep: str | None = None) -> int:
    """Remove stale phrase-query scratch dirs (<root>/_scratch/phrase_*).

    phrase_search materializes two durable cut points per query; the
    _matches dir backs the RETURNED DataFrame, so it cannot be deleted
    until the caller is done with the result. Lifecycle: every
    phrase_search sweeps all prior phrase_* dirs first (so repeated
    queries leave at most one live dir, and dirs orphaned by dead
    sessions are reclaimed), and callers that hold results across
    queries can sweep explicitly when done. Returns dirs removed."""
    import os as _os

    from . import fsio

    wh = warehouse if isinstance(warehouse, Warehouse) else Warehouse(warehouse)
    removed = 0
    for p in fsio.list_glob(_os.path.join(wh.root, "_scratch", "phrase_*")):
        if keep and _os.path.basename(p.rstrip("/")).startswith(_os.path.basename(keep)):
            continue
        fsio.remove(p, recursive=True)
        removed += 1
    return removed


def phrase_search(
    spark: SparkSession,
    warehouse: str | Warehouse,
    phrase: str,
    k: int = 10,
    scratch_dir: str | None = None,
    within: DataFrame | str | None = None,
    slop: int = 0,
) -> DataFrame:
    """Exact-phrase BM25 top-k over the positional index, in two phases:

    slop: ordered proximity — consecutive phrase terms may be up to
    `slop` intervening tokens apart (slop=0 is the exact phrase).
    Semantics: a match is a position p of term i+1 with some matched
    position c of term i satisfying 1 <= p - c <= slop + 1;
    phrase_tf = number of matched final-term positions. Phase 1's
    candidate/range pruning is slop-independent (co-occurrence only),
    so the plan shape is identical; only the JVM position fold widens
    from array_intersect to a bounded-window exists().

    within (see search()): candidates are LEFT SEMI-filtered to the
    metadata docset AFTER the phrase df/idf is computed — ranking stats
    stay corpus-global, matching search()'s within semantics.

    Phase 1 (cheap): the RAREST term's blocks are ids-decoded first (the
    candidate universe is bounded by its df); every OTHER term's block
    set is then RANGE-PRUNED before any ids blob is decoded — within a
    (term, salt), blocks hold sorted disjoint doc_id ranges, so a block
    can contain a candidate only if [min_doc_id, max_doc_id] intersects
    the candidate set (a broadcast range semi-join on block METADATA).
    "the data" therefore decodes only the "the" blocks whose range holds
    a "data" doc, not all of "the". Surviving blocks are ids-decoded
    (positions never read — parquet column pruning), a rarest-first LEFT
    SEMI chain intersects to candidate docs, and the distinct
    (term, salt, block_id) keys of blocks holding them feed phase 2.

    Phase 2: positional decode of ONLY those blocks; adjacency is checked
    JVM-side by folding position arrays (cand = positions(t0);
    cand = array_intersect(cand+1, positions(t1)); ...), phrase tf =
    |cand| (overlapping occurrences counted). Scored as a single BM25
    'term' whose df = number of phrase-matching docs.

    No driver-side materialization at any k, and no localCheckpoint
    (an executor loss would kill the query on a real cluster): the two
    cut points — rare-term ids and the matches relation — materialize
    as scratch parquet, so recomputation-on-failure restarts from
    durable storage. Scratch lives under <warehouse>/_scratch by
    default; pass scratch_dir to keep a read-only warehouse untouched
    (any Spark-writable location). Stale scratch from prior queries is
    swept on entry (sweep_phrase_scratch), so repeated phrase queries
    leave at most ONE live dir — callers must consume a result before
    issuing the next phrase query, or pass distinct scratch_dirs.
    Returns DataFrame(doc_id, score, phrase_tf) ordered (score DESC,
    doc_id ASC), limited to k.
    """
    import os as _os

    from . import fsio

    wh = warehouse if isinstance(warehouse, Warehouse) else Warehouse(warehouse)
    st = _wh_state(spark, wh)
    terms = py_tokenize(phrase)
    empty = spark.createDataFrame([], "doc_id long, score double, phrase_tf int")
    if not terms:
        return empty
    stats = st["stats"]
    n_docs, avgdl = int(stats["n_docs"]), float(stats["avgdl"])

    uniq = list(dict.fromkeys(terms))
    dfs = _term_dfs(spark, st, wh, uniq)
    if any(t not in dfs for t in uniq):
        return empty  # a phrase containing an absent term matches nothing
    order = sorted(uniq, key=lambda t: (dfs[t], t))  # rarest term first
    rare, others = order[0], order[1:]
    scratch_root = scratch_dir or _os.path.join(wh.root, "_scratch")
    if scratch_dir is None:
        sweep_phrase_scratch(wh)
    else:
        for p in fsio.list_glob(_os.path.join(scratch_root, "phrase_*")):
            fsio.remove(p, recursive=True)
    scratch = _os.path.join(scratch_root, f"phrase_{uuid.uuid4().hex[:12]}")

    # ---- phase 1a: rare-term ids (with block provenance), durable ----
    ids_rare = _decode_blocks_ids_prov(_postings_for(spark, wh, st, [rare]))
    ids_rare.write.mode("overwrite").parquet(scratch + "_rare")
    ids_rare = spark.read.parquet(scratch + "_rare")
    cand = ids_rare.select("doc_id").distinct()

    # ---- phase 1b: range-prune + ids-decode the other terms ----
    if others:
        oblocks = _postings_for(spark, wh, st, others)
        # Cost-based gate: the range semi-join is a broadcast nested loop
        # (df_rare candidates x n_other_blocks ranges), so its cost is the
        # PRODUCT of the two sides — both known driver-side. A rare df
        # alone is not enough: against a hot other-term with many blocks
        # ("zyzzyva the") the BNLJ probes df_rare * n_blocks pairs while
        # saving at most n_blocks * block_size decoded postings, and
        # decoding everything is cheaper past _PHRASE_BNLJ_MAX probes.
        obstats = _term_block_stats(spark, st, wh, others)
        n_other_blocks = sum(b["n_blocks"] for b in obstats.values()) if len(obstats) == len(others) else None
        bnlj_ok = dfs[rare] <= 200_000 and (
            n_other_blocks is None or dfs[rare] * n_other_blocks <= _PHRASE_BNLJ_MAX
        )
        if bnlj_ok:
            # block-range semi-join on metadata only; the broadcast side
            # is bounded by the rarest df (gate above — beyond it the
            # nested-loop probe would cost more than the decode it saves)
            oblocks = _range_semi_join(oblocks, cand)
        ids_others = _decode_blocks_ids_prov(oblocks)
        ids_all = ids_rare.unionByName(ids_others)
    else:
        ids_all = ids_rare
    for t in others:
        cand = cand.join(ids_all.filter(F.col("term") == t).select("doc_id"), "doc_id", "left_semi")
    keys = ids_all.join(cand, "doc_id", "left_semi").select("term", "salt", "block_id").distinct()
    # keys is small (blocks containing candidates); AQE broadcasts it
    # locally and falls back to a shuffle join at extreme scale
    blocks = _postings_for(spark, wh, st, uniq)
    full = _decode_blocks_with_positions(blocks.join(keys, ["term", "salt", "block_id"]))

    # one join per UNIQUE term, rarest-first; duplicate phrase terms
    # reuse the same positions column
    joined = None
    colof: dict[str, str] = {}
    for j, t in enumerate(order):
        colof[t] = f"pos_u{j}"
        side = full.filter(F.col("term") == t).select(
            "doc_id",
            F.col("positions").alias(colof[t]),
            *([F.col("doc_len")] if j == 0 else []),
        )
        joined = side if joined is None else joined.join(side, "doc_id")
    if slop < 0:
        raise ValueError(f"slop must be >= 0, got {slop}")
    candpos = F.col(colof[terms[0]])
    for t in terms[1:]:
        if slop == 0:
            # exact-adjacency fast path: set intersect beats the
            # nested exists() when the window is a single position
            candpos = F.array_intersect(F.transform(candpos, lambda x: x + 1), F.col(colof[t]))
        else:
            # factory call binds prev per iteration; the inner lambdas
            # must stay single-argument (pyspark HOFs dispatch on arity).
            # prev is BOUND via util.bind: for 3+-term phrases it is
            # itself a filter(exists(...)) expression, and an unbound
            # reference from inside exists() would re-evaluate the whole
            # previous fold once per candidate position
            from .functions.util import bind as _bind

            def _window(prev, nxt):
                return _bind(
                    prev,
                    lambda pv: F.filter(
                        nxt,
                        lambda p: F.exists(
                            pv, lambda c: (p - c >= 1) & (p - c <= slop + 1)
                        ),
                    ),
                )

            candpos = _window(candpos, F.col(colof[t]))
    matches = (
        joined.withColumn("phrase_tf", F.size(candpos))
        .filter(F.col("phrase_tf") > 0)
        .select("doc_id", "doc_len", "phrase_tf")
    )
    # durable cut: the tiny matches relation is the only thing the
    # returned plan reads; the rare-ids scratch is dead after this write
    matches.write.mode("overwrite").parquet(scratch + "_matches")
    matches = spark.read.parquet(scratch + "_matches")
    fsio.remove(scratch + "_rare", recursive=True)
    df_count = matches.count()  # phrase df for idf (cheap: materialized)
    if df_count == 0:
        return empty
    if within is not None:
        # AFTER df_count: the phrase idf stays corpus-global (within
        # filters candidates, never re-derives ranking stats)
        if isinstance(within, str):
            wdocs = (
                catalog.read_table(spark, wh.root, "docs")
                .filter(F.expr(within))
                .select("doc_id")
            )
        else:
            wdocs = within.select("doc_id")
        matches = matches.join(wdocs, "doc_id", "left_semi")
    idf = _idf(n_docs, df_count)
    denom = F.col("phrase_tf") + F.lit(K1) * (
        F.lit(1.0 - B) + F.lit(B) * F.col("doc_len") / F.lit(max(avgdl, 1e-9))
    )
    return (
        matches.withColumn("score", F.lit(idf) * F.col("phrase_tf") * F.lit(K1 + 1.0) / denom)
        .select("doc_id", "score", "phrase_tf")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


SNIPPET_SCHEMA = "doc_id long, score double, term string, snippet string"


def search_snippets(
    spark: SparkSession,
    warehouse: str | Warehouse,
    query: str,
    k: int = 10,
    window: int = 5,
    mode: str = "or",
    prune: bool = True,
    within: DataFrame | str | None = None,
) -> DataFrame:
    """BM25 top-k with a TEXT SNIPPET per hit — the reference prints the
    matching content line (cli.rs:484-500 analog); here the snippet is
    the +-window tokens around the FIRST occurrence of the rarest
    (lowest-df, highest-idf) live query term present in the doc, a
    deterministic rule shared with the SQL oracle. Returns
    DataFrame(doc_id, score, term, snippet) ordered (score DESC,
    doc_id ASC).

    Scale shape: ranking is search() (whatever plan the planner picks);
    the snippet pass broadcasts the k result ids against the docs
    table (LEFT-SEMI-sized probe, tokens column read for exactly k
    docs at any corpus size) and computes term choice + slice as pure
    Catalyst array expressions — no positional-index decode, no Python."""
    wh = warehouse if isinstance(warehouse, Warehouse) else Warehouse(warehouse)
    st = _wh_state(spark, wh)
    empty = spark.createDataFrame([], SNIPPET_SCHEMA)
    if _needs_rewrite(query):
        query = expand_wildcards(spark, wh, query)
    top = search(spark, wh, query, k=k, mode=mode, prune=prune, within=within).collect()  # O(k)
    if not top:
        return empty
    pos_terms, _neg, _less = parse_query(query)
    dfs = _term_dfs(spark, st, wh, pos_terms)
    live = sorted((t for t in pos_terms if t in dfs), key=lambda t: (dfs[t], t))
    if not live:
        return empty
    ids = _values_df(
        spark,
        [f"({int(r['doc_id'])}L, {_sql_double(r['score'])})" for r in top],
        "doc_id, score",
    )
    docs = catalog.read_table(spark, wh.root, "docs").select("doc_id", "tokens")
    j = docs.join(F.broadcast(ids), "doc_id")
    term_expr, pos_expr = F.lit(None).cast("string"), F.lit(None).cast("long")
    for t in reversed(live):  # rarest-first precedence via later WHEN wins... build reversed
        p = F.array_position("tokens", t)
        term_expr = F.when(p > 0, F.lit(t)).otherwise(term_expr)
        pos_expr = F.when(p > 0, p).otherwise(pos_expr)
    start = F.greatest(F.lit(1), pos_expr - window)
    return (
        j.withColumn("term", term_expr)
        .withColumn(
            "snippet",
            F.concat_ws(" ", F.slice("tokens", start, 2 * window + 1)),
        )
        .select("doc_id", "score", "term", "snippet")
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


HIGHLIGHT_SCHEMA = "doc_id long, score double, term string, positions array<int>"


def search_highlights(
    spark: SparkSession,
    warehouse: str | Warehouse,
    query: str,
    k: int = 10,
    mode: str = "or",
    prune: bool = True,
    within: DataFrame | str | None = None,
) -> DataFrame:
    """BM25 top-k with per-term MATCH POSITIONS — the 'where did it hit'
    half of the reference's output (lsearch prints the matching content
    itself, score listing + content path; here the positional index
    answers it without re-reading any document). Returns
    DataFrame(doc_id, score, term, positions array<int>): one row per
    (top-k doc, live query term occurring in it), positions being the
    0-based token offsets of that term in the doc's token stream,
    ordered (score DESC, doc_id ASC, term ASC).

    Scale shape: the ranking itself is search() (whatever plan the
    planner picks); the highlight pass adds O(k) driver rows plus a
    positional decode bounded by the blocks whose [min_doc_id,
    max_doc_id] range holds a top-k doc — a broadcast range semi-join
    on block METADATA (k rows broadcast), so ~k blocks per term are
    position-decoded at ANY corpus size; no full posting list is ever
    re-read for highlighting.
    """
    wh = warehouse if isinstance(warehouse, Warehouse) else Warehouse(warehouse)
    st = _wh_state(spark, wh)
    empty = spark.createDataFrame([], HIGHLIGHT_SCHEMA)
    top = search(spark, wh, query, k=k, mode=mode, prune=prune, within=within).collect()  # O(k)
    if not top:
        return empty
    pos_terms, _neg, _less = parse_query(query)
    dfs = _term_dfs(spark, st, wh, pos_terms)
    live = [t for t in pos_terms if t in dfs]
    scores = _values_df(
        spark,
        [f"({int(r['doc_id'])}L, {_sql_double(r['score'])})" for r in top],
        "doc_id, score",
    )
    blocks = _range_semi_join(
        _postings_for(spark, wh, st, live), scores.select("doc_id")
    )
    full = _decode_blocks_with_positions(blocks)
    return (
        full.join(F.broadcast(scores), "doc_id")  # also filters to top-k
        .select("doc_id", "score", "term", "positions")
        .orderBy(F.desc("score"), F.asc("doc_id"), F.asc("term"))
    )


def suggest_terms(
    spark: SparkSession,
    warehouse: str | Warehouse,
    prefix: str,
    n: int = 10,
) -> DataFrame:
    """Prefix completion over the index vocabulary: the n highest-df
    terms starting with `prefix` (normalized with the indexing
    tokenizer). Returns DataFrame(term, df) ordered (df DESC, term ASC).

    Pure Catalyst over the tiny term_stats table — a startswith
    predicate (pushable to parquet row-group stats since term_stats is
    written term-sorted per partition) + TakeOrderedAndProject; no
    postings touched. Empty/no-token prefixes return no rows."""
    wh = warehouse if isinstance(warehouse, Warehouse) else Warehouse(warehouse)
    st = _wh_state(spark, wh)
    toks = py_tokenize(prefix)
    if not toks:
        return spark.createDataFrame([], "term string, df long")
    return (
        st["term_stats_rel"]
        .filter(F.col("term").startswith(toks[0]))
        .select("term", F.col("df").cast("long").alias("df"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(n)
    )


def fuzzy_terms(
    spark: SparkSession,
    warehouse: str | Warehouse,
    term: str,
    max_dist: int = 1,
    n: int = 64,
) -> DataFrame:
    """Index-vocabulary terms within levenshtein distance `max_dist` of
    `term` (normalized with the indexing tokenizer), the n highest-df
    first (df DESC, term ASC). Pure Catalyst over the tiny term_stats
    table with a cheap length-window pre-filter (|len(t)-len(term)| <=
    max_dist, pushable) ahead of the levenshtein scan; no postings
    touched. At web scale the vocabulary relation is millions of rows,
    not billions — a parallel scan of it per fuzzy token is the
    standard cost (Lucene pays an FST walk; the length window plus
    column pruning keeps this the same order of cheap)."""
    wh = warehouse if isinstance(warehouse, Warehouse) else Warehouse(warehouse)
    st = _wh_state(spark, wh)
    toks = py_tokenize(term)
    if not toks:
        return spark.createDataFrame([], "term string, df long")
    t = toks[0]
    return (
        st["term_stats_rel"]
        .filter(F.abs(F.length("term") - F.lit(len(t))) <= max_dist)
        .filter(F.levenshtein(F.col("term"), F.lit(t)) <= max_dist)
        .select("term", F.col("df").cast("long").alias("df"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(n)
    )


_FUZZY_SUFFIX = re.compile(r"~(\d?)$")


def expand_wildcards(
    spark: SparkSession,
    warehouse: str | Warehouse,
    query: str,
    max_expansions: int = 64,
) -> str:
    """Rewrite trailing-* wildcard tokens into explicit disjunctions of
    index-vocabulary terms (Lucene-style prefix query): 'quant*' becomes
    'quantum quantize ...' — the max_expansions highest-df terms under
    the prefix, resolved from the tiny term_stats table (suggest_terms;
    no postings touched), deterministically ordered (df DESC, term ASC)
    so the cap is reproducible. '-'/'~' operators distribute over the
    expansion ('-quant*' excludes every expanded term). A prefix with no
    vocabulary match expands to nothing — absent-term semantics. The
    rewritten string then flows through the NORMAL planner, so expanded
    terms prune, batch, and compose with within/negation like any
    hand-written disjunction. A bare '*' is rejected (it would be a
    full-vocabulary scan).

    Fuzzy tokens rewrite the same way: 'quary~' (or 'quary~2') expands
    into the vocabulary terms within levenshtein distance 1 (or the
    given digit) via fuzzy_terms(). A LEADING '~' is still the less
    operator — '~quary~' is a fuzzy less-term."""
    wh = warehouse if isinstance(warehouse, Warehouse) else Warehouse(warehouse)
    out: list[str] = []
    for raw in query.split():
        op = raw[0] if raw[:1] in ("-", "~") else ""
        body = raw.lstrip("-~")
        fz = _FUZZY_SUFFIX.search(body)
        if body.endswith("*"):
            stem = body[:-1]
            expand = lambda t: suggest_terms(spark, wh, t, n=max_expansions)
        elif fz and len(body) > len(fz.group(0)):
            dist = int(fz.group(1) or "1")
            stem = body[: fz.start()]
            expand = lambda t, d=dist: fuzzy_terms(spark, wh, t, max_dist=d, n=max_expansions)
        else:
            out.append(raw)
            continue
        stem_toks = py_tokenize(stem)
        if not stem_toks:
            raise ValueError(f"bare or non-tokenizable wildcard/fuzzy token {raw!r}")
        # multi-token stems ('data-base*') rewrite only the LAST token
        out.extend(op + t for t in stem_toks[:-1])
        out.extend(op + r["term"] for r in expand(stem_toks[-1]).collect())
    return " ".join(out)


def _needs_rewrite(query: str) -> bool:
    """'*' anywhere, or a token-final '~'/'~<digit>' (a LEADING '~' is
    the less operator, not fuzzy)."""
    return "*" in query or bool(re.search(r"[^\s~]~\d?(?=\s|$)", query))


RERANK_SCHEMA = "doc_id long, score double, cosine double"


def search_rerank(
    spark: SparkSession,
    warehouse: str | Warehouse,
    query: str,
    query_vec,
    embeddings: DataFrame,
    k: int = 10,
    k0: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "or",
    prune: bool = True,
    within: DataFrame | str | None = None,
) -> DataFrame:
    """Hybrid retrieval: BM25 RECALL (top-k0 candidates through the full
    query planner — pruning, negation, within all compose) re-ranked by
    embedding cosine to `query_vec`. The standard two-stage shape of an
    LLM-era retrieval pipeline: the lexical index bounds the candidate
    set, the dense scorer orders it. Returns DataFrame(doc_id, score
    [BM25], cosine) ordered (cosine DESC, doc_id ASC), limited to k.

    Scale shape: the k0 candidate ids are a BROADCAST side against the
    embeddings table (no shuffle — one columnar scan of (id, vector)
    reduced to k0 rows executor-side), and the cosine is the JVM-side
    zip_with/aggregate fold (functions/ann.py — no Python in the path).
    Candidates without an embedding row drop out (inner join) — at web
    scale the embeddings table should be stored id-partitioned so the
    broadcast join prunes its scan; pair with functions.ann's LSH/IVF
    indexes when the candidate set must come from the dense side
    instead. Stats/rounding twins: cosine accumulates in float64
    left-fold order, bit-reproducible by the entry oracles' replay."""
    from .functions.ann import _lit_vec, cosine

    wh = warehouse if isinstance(warehouse, Warehouse) else Warehouse(warehouse)
    top = search(spark, wh, query, k=k0, mode=mode, prune=prune, within=within)
    qv = _lit_vec(query_vec)
    return (
        embeddings.join(F.broadcast(top), embeddings[id_col] == top["doc_id"])
        .select(
            top["doc_id"],
            top["score"],
            cosine(F.col(vec_col), qv).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("doc_id"))
        .limit(k)
    )
