"""One scale-probe harness for the engine's operators (SCALE.md).

Each entry replicates a fixture k times inside the session, runs one
operator shape at every multiple and prints one JSON line per
measurement, then a summary line with least-squares log-log growth
exponents and the entry's checks. The process exits 1 when a check
fails.

    python tools/scale_probe.py <entry> [--sf DIR] [--mults 1,2,4]

``--sf`` defaults to ``catalog.DEFAULT_SF_DIR``; ``--mults`` to the
entry's own multiples (listed by ``--help``).

The parts every entry shares live here once:

* :func:`replicate` — one ``crossJoin(spark.range(k))`` plan at any k.
  Plain ("hot") replication shifts the id columns by ``rep * SHIFT``
  and repeats the text, so token volume grows while the vocabulary
  stays fixed. Disjoint replication also suffixes every token with
  ``_<rep>``, at every multiple including 1x, so vocabulary, shingle
  and fingerprint spaces grow with k and near-dup structure scales
  linearly instead of quadratically. The replicas ride in the base
  scan's partitions; operators that need parallelism spread their
  input themselves (``catalog.spread``).
* warm-up — each entry runs once, unrecorded, at the smallest multiple
  so the first point does not pay plan compilation and codegen.
* :func:`measure` — forces a DataFrame through its own QueryExecution
  (``toRdd().count()``, no rows collected) and records wall seconds,
  output rows and the executed plan's shuffle totals.
* :func:`fit_exponent` — least-squares slope of log(value) over
  log(mult) across every probed multiple.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import tempfile
import time
from dataclasses import dataclass, field
from typing import Callable, Iterator

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from meepo_spark.catalog import DEFAULT_SF_DIR
from meepo_spark.cdc.event_store import TransactionalEventStore
from meepo_spark.cdc.events import events_as_changes
from meepo_spark.operators.bpe import bpe_apply, bpe_merge_table
from meepo_spark.operators.dedup import (
    band_keys,
    minhash_near_dup_pairs,
    minhash_signatures,
    shingle_hash_set,
)
from meepo_spark.operators.enumeration import bucketed_prefix_sum, bucketed_row_number
from meepo_spark.operators.fingerprint import (
    candidate_pairs,
    explode_fps,
    with_fingerprints,
)
from meepo_spark.operators.optim import logreg_fit
from meepo_spark.operators.packing import pack_first_fit
from meepo_spark.operators.similarity import ivf_cosine_topk, pq_topk
from meepo_spark.operators.sparse import df_capped_tfidf, doc_terms, sparse_cosine_topk
from meepo_spark.plan_metrics import shuffle_totals
from meepo_spark.session import get_spark

# id offset per replica: replicas stay disjoint for any id below ~1.1e12
SHIFT = 1 << 40


# --- shared parts ---------------------------------------------------------
def replicate(
    df: DataFrame, k: int, ids: tuple[str, ...] = (), text: str | None = None
) -> DataFrame:
    """``k`` copies of ``df`` in one plan. Columns in ``ids`` shift by
    ``rep * SHIFT``; when ``text`` names a column, each of its
    space-separated tokens gets the ``_<rep>`` suffix (disjoint regime)."""
    rep = F.col("__rep")
    cols = []
    for c in df.columns:
        col = F.col(c)
        if c in ids:
            col = col + rep * F.lit(SHIFT)
        elif c == text:
            suffix = F.concat(F.lit("_"), rep.cast("string"))
            col = F.array_join(
                F.transform(F.split(col, " "), lambda t: F.concat(t, suffix)), " "
            )
        cols.append(col.alias(c))
    reps = df.sparkSession.range(k).select(F.col("id").alias("__rep"))
    return df.crossJoin(reps).select(*cols)


class Stopwatch:
    """``with Stopwatch() as t: ...`` — ``t.s`` is the block's wall seconds."""

    def __enter__(self) -> "Stopwatch":
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.s = time.perf_counter() - self.t0


def measure(df: DataFrame, rows: str = "rows") -> dict:
    """Execute ``df`` via its own QueryExecution, no rows collected:
    ``{rows: output row count, wall_s, shuffle_bytes, shuffle_records,
    n_exchanges}``."""
    qe = df._jdf.queryExecution()
    with Stopwatch() as t:
        n = qe.toRdd().count()
    return {rows: n, "wall_s": t.s, **shuffle_totals(qe)}


def fit_exponent(points: list[tuple[int, float]]) -> float | None:
    """Least-squares slope of log(value) over log(mult) across all
    points, so one noisy endpoint cannot fake the slope. ``None`` with
    fewer than two distinct multiples."""
    if len({m for m, _ in points}) < 2:
        return None
    xs = [math.log(m) for m, _ in points]
    ys = [math.log(max(v, 1e-9)) for _, v in points]
    mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
    sxy = sum((x - mx) * (y - my) for x, y in zip(xs, ys))
    return sxy / sum((x - mx) ** 2 for x in xs)


def growth(wall_fn: Callable[[int], float], small: int, step: int) -> float:
    """Wall growth of ``wall_fn(n)`` from ``small`` to ``small * step``.
    The small size runs twice and the best run counts: the first pays
    codegen for the shape."""
    best = min(wall_fn(small) for _ in range(2))
    return wall_fn(small * step) / best


def emit(rec: dict) -> None:
    rounded = {k: round(v, 3) if isinstance(v, float) else v for k, v in rec.items()}
    print(json.dumps(rounded), flush=True)


@dataclass
class Probe:
    """What an entry sees: the session, the fixture dir, the probed
    multiples, whether this is the warm-up pass, and per-run state."""

    spark: SparkSession
    sf: str
    mults: list[int]
    warming: bool = False
    memo: dict = field(default_factory=dict)

    def table(self, name: str) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.sf, f"{name}.parquet"))

    def once(self, key: str, fn: Callable):
        """``fn()`` computed on first use and kept for the run."""
        if key not in self.memo:
            self.memo[key] = fn()
        return self.memo[key]


Checks = Callable[[list[dict], dict], dict[str, bool]]


@dataclass(frozen=True)
class Entry:
    point: Callable[[Probe, int], Iterator[dict]]
    mults: tuple[int, ...]
    fit: tuple[str, ...]
    checks: Checks | None


ENTRIES: dict[str, Entry] = {}


def entry(
    *mults: int, fit: tuple[str, ...] = ("wall_s",), checks: Checks | None = None
):
    """Register a generator ``point(probe, mult)`` that yields the
    records of one multiple. Records of different shapes within an
    entry carry a ``series`` name; ``fit`` lists the record fields whose
    growth exponent the summary reports, per series."""

    def deco(fn):
        ENTRIES[fn.__name__] = Entry(fn, mults, fit, checks)
        return fn

    return deco


def run(
    spark: SparkSession,
    name: str,
    sf: str,
    mults: list[int] | None = None,
    out: Callable[[dict], None] = emit,
) -> tuple[list[dict], dict]:
    """Warm up, probe every multiple, fit, check. Returns the records
    and the summary; ``summary["ok"]`` is False when a check failed."""
    e = ENTRIES[name]
    p = Probe(spark, sf, list(mults or e.mults))
    records: list[dict] = []
    try:
        p.warming = True
        for _ in e.point(p, min(p.mults)):
            pass
        p.warming = False
        for m in p.mults:
            for rec in e.point(p, m):
                records.append({"entry": name, "mult": m, **rec})
                out(records[-1])
    finally:
        for v in p.memo.values():
            if isinstance(v, DataFrame):
                v.unpersist()
    exponents = {}
    for f in e.fit:
        for s in dict.fromkeys(r.get("series") for r in records):
            pts = [
                (r["mult"], r[f]) for r in records if r.get("series") == s and f in r
            ]
            if pts:
                exponents[f if s is None else f"{s}.{f}"] = fit_exponent(pts)
    checks = e.checks(records, exponents) if e.checks else {}
    summary = {
        "entry": name,
        "summary": True,
        "exponents": {k: v if v is None else round(v, 3) for k, v in exponents.items()},
        "checks": checks,
        "ok": all(checks.values()),
    }
    out(summary)
    return records, summary


def _docs(p: Probe, k: int, disjoint: bool, *cols: str) -> DataFrame:
    return replicate(
        p.table("documents").select("doc_id", "text", *cols),
        k,
        ids=("doc_id",),
        text="text" if disjoint else None,
    )


def _word_counts(docs: DataFrame) -> DataFrame:
    return (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
    )


# --- entries --------------------------------------------------------------
@entry(1, 8, 32, fit=("wordcount_s", "rounds_s"))
def bpe(p: Probe, mult: int):
    """SCALE.md §17, l46: after round 0 compresses the corpus to the
    word-count table, merge rounds are vocabulary-bound. Plain
    replication grows token volume, not vocabulary: round 0 should grow
    ~linearly, the 3 merge rounds stay flat."""
    with Stopwatch() as t0:
        words = _word_counts(_docs(p, mult, False)).localCheckpoint()
        vocab = words.count()
    with Stopwatch() as t1:
        n_merges = bpe_merge_table(words, 3).count()
    yield {"vocab": vocab, "n_merges": n_merges, "wordcount_s": t0.s, "rounds_s": t1.s}


DIM = 64


@entry(10, 20, 40, fit=("wall_s", "shuffle_bytes"))
def corpus(p: Probe, mult: int):
    """SCALE.md §10: the LSH band shuffle over disjoint document
    replicas, and IVF / PQ search over id-shifted embedding replicas,
    with shuffle totals and the LSH exchange's hottest partition."""
    n_part = int(p.spark.conf.get("spark.sql.shuffle.partitions"))
    docs = _docs(p, mult, True)
    sig = minhash_signatures(
        docs.select(
            F.col("doc_id").alias("id"),
            F.explode(shingle_hash_set(F.col("text"), 3)).alias("shingle"),
        ),
        96,
    )
    banded = sig.select("id", F.explode(band_keys(96, 48)).alias("bk"))
    a = banded.select(F.col("id").alias("id_a"), "bk")
    b = banded.select(F.col("id").alias("id_b"), "bk")
    cand = (
        a.join(b, "bk")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # the band-key exchange's hottest partition, exactly: rows per
    # pmod(hash(bk), shuffle partitions), maxed
    peak = (
        banded.groupBy(F.pmod(F.hash("bk"), F.lit(n_part)))
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    yield {
        "series": "lsh_band_pipeline",
        "docs": docs.count(),
        **measure(cand, rows="candidate_pairs"),
        "peak_partition_rows": int(peak),
    }

    emb = p.table("embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    c = replicate(
        emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")),
        mult,
        ids=("c_id",),
    )
    n_c = c.count()
    not_self = F.col("q_id") != F.col("c_id")
    ivf = ivf_cosine_topk(
        q, c, dim=DIM, k=5, n_centroids=16, n_probe=8, pair_filter=not_self
    )
    yield {"series": "ivf_search", "corpus": n_c, **measure(ivf, rows="rows_out")}
    pq = pq_topk(q, c, dim=DIM, k=5, m=16, ksub=16, rerank=50, pair_filter=not_self)
    yield {"series": "pq_adc_search", "corpus": n_c, **measure(pq, rows="rows_out")}


@entry(1, 2, 4, 8)
def dedup(p: Probe, mult: int):
    """SCALE.md §4: MinHash(96) -> LSH(48x2) -> exact verify over
    disjoint replicas; pairs grow linearly, never with k squared."""
    d = _docs(p, mult, True)
    pairs = minhash_near_dup_pairs(
        d, "text", "doc_id", threshold=0.6, shingle_k=3, num_hashes=96, bands=48
    )
    yield {"docs": d.count(), **measure(pairs, rows="pairs")}


@entry(32, fit=("naive_s", "bucketed_s", "two_level_s"))
def enumeration(p: Probe, mult: int):
    """SCALE.md §8: ``bucketed_row_number`` against the naive global
    ``row_number() OVER (ORDER BY ...)`` (one WindowExec task), and the
    two-level per-(key, bucket) + broadcast-offset running count
    against the window partitioned by the 3-value l_returnflag."""
    li = p.table("lineitem").select(
        "l_returnflag", F.col("l_orderkey").alias("k"), "l_linenumber"
    )
    big = replicate(li, mult, ids=("k",)).persist()
    try:
        n = big.count()
        order = [F.col("k").asc(), F.col("l_linenumber").asc()]
        naive = measure(big.withColumn("rn", F.row_number().over(W.orderBy(*order))))
        bucketed = measure(
            bucketed_row_number(big, F.floor(F.col("k") / 1_000_000), order, out="rn")
        )
        yield {
            "series": "global",
            "rows": n,
            "naive_s": naive["wall_s"],
            "bucketed_s": bucketed["wall_s"],
            "speedup": naive["wall_s"] / bucketed["wall_s"],
        }

        running = W.unboundedPreceding, 0
        w = W.partitionBy("l_returnflag").orderBy(*order).rowsBetween(*running)
        naive = measure(big.withColumn("rs", F.count(F.lit(1)).over(w)))
        b = big.withColumn("__b", F.floor(F.col("k") / 1_000_000))
        counts = b.groupBy("l_returnflag", "__b").agg(F.count(F.lit(1)).alias("n"))
        off_w = (
            W.partitionBy("l_returnflag")
            .orderBy("__b")
            .rowsBetween(W.unboundedPreceding, -1)
        )
        offs = counts.select(
            "l_returnflag",
            "__b",
            F.coalesce(F.sum("n").over(off_w), F.lit(0)).alias("off"),
        )
        in_w = (
            W.partitionBy("l_returnflag", "__b").orderBy(*order).rowsBetween(*running)
        )
        two = measure(
            b.join(F.broadcast(offs), ["l_returnflag", "__b"]).withColumn(
                "rs", F.count(F.lit(1)).over(in_w) + F.col("off")
            )
        )
        yield {
            "series": "tiny_key",
            "rows": n,
            "naive_s": naive["wall_s"],
            "two_level_s": two["wall_s"],
            "speedup": naive["wall_s"] / two["wall_s"],
        }
    finally:
        big.unpersist()


def _store_reads(store: TransactionalEventStore) -> dict:
    with Stopwatch() as t0:
        n = store.log().count()
    with Stopwatch() as t1:
        store.replay("users", None, "2024-01-10", "2024-01-11").count()
    return {"rows_visible": n, "log_count_s": t0.s, "replay_1d_s": t1.s}


@entry(1, 8, 16, 32, 64, fit=("log_count_s", "replay_1d_s", "manifest_commit_ms"))
def eventstore(p: Probe, mult: int):
    """SCALE.md §11: the multiple is the number of committed epochs,
    i.e. the read path's union width. The events split into
    max(mults) epochs by offset; a fresh store commits the first
    ``mult`` of them, timing the parquet write apart from the O(1)
    manifest commit, then reads the log and a 1-day replay before and
    after ``compact_txn``."""
    n_epochs = max(p.mults)
    ch = p.once("changes", lambda: events_as_changes(p.spark, p.sf).persist())
    root = tempfile.mkdtemp(prefix="esprobe_")
    try:
        store = TransactionalEventStore(p.spark, os.path.join(root, "store"))
        write_s = commit_s = 0.0
        for ep in range(mult):
            target = store._epoch_dir(ep)
            with Stopwatch() as tw:
                (
                    ch.filter(F.col("offset") % n_epochs == ep)
                    .withColumn("event_date", F.to_date("ts"))
                    .write.mode("overwrite")
                    .partitionBy("event_date")
                    .parquet(target)
                )
            with Stopwatch() as tc:
                store.commits.commit(ep, [target])
            write_s += tw.s
            commit_s += tc.s
        rec = {
            "rows": ch.count(),
            "parquet_write_s": write_s,
            "manifest_commit_ms": 1000 * commit_s / mult,
            **_store_reads(store),
        }
        with Stopwatch() as t:
            store.compact_txn()
        rec["compact_s"] = t.s
        rec.update({f"compacted_{k}": v for k, v in _store_reads(store).items()})
        yield rec
    finally:
        shutil.rmtree(root, ignore_errors=True)


@entry(1, 2, 4, 8)
def fingerprint(p: Probe, mult: int):
    """SCALE.md §19, l53/l54: winnowing fingerprints are a per-row
    projection and the df<=20 stop cut keeps the fingerprint self-join
    linear over disjoint replicas. ``wall_s`` covers fingerprinting and
    the pair join."""
    d = _docs(p, mult, True)
    toks = d.select("doc_id", F.split(F.lower("text"), " ").alias("toks"))
    doc_fps = with_fingerprints(toks, "toks", 5, 4).select("doc_id", "fps")
    e = explode_fps(doc_fps).persist()
    try:
        with Stopwatch() as t:
            fps = e.count()
        pairs = measure(candidate_pairs(e, max_df=20, min_shared=3), rows="pairs")
        yield {"docs": d.count(), "fps": fps, **pairs, "wall_s": t.s + pairs["wall_s"]}
    finally:
        e.unpersist()


LOGREG_D = 8


def _logreg_checks(records: list[dict], _exponents: dict) -> dict[str, bool]:
    return {
        "weights_match_1x": all(
            r["weights_match_1x"] for r in records if "weights_match_1x" in r
        )
    }


@entry(1, 4, 16, 64, checks=_logreg_checks)
def logreg(p: Probe, mult: int):
    """SCALE.md §20: 5-round ``logreg_fit`` over replicated embeddings.
    The gradient is a mean, so replication must leave the weights equal
    to the 1x fit (checked). At the smallest multiple a 20-round fit
    shows per-round cost stays flat in the round count."""
    feats = [f"f{i + 1}" for i in range(LOGREG_D)]
    base = p.table("embeddings").select(
        (F.col("label") >= 5).cast("int").alias("y"),
        *[F.col("embedding").getItem(i).alias(f) for i, f in enumerate(feats)],
    )

    def fit(k: int, iters: int) -> tuple[list[float], float, int]:
        # materialized outside the timer
        df = replicate(base, k).repartition(32).localCheckpoint()
        with Stopwatch() as t:
            w, _, _ = logreg_fit(df, feats, "y", lr=1.0, iters=iters)
        return w, t.s, df.count()

    w, wall, rows = fit(mult, 5)
    ref = p.once("weights_1x", lambda: w if mult == 1 else fit(1, 5)[0])
    yield {
        "rows": rows,
        "iters": 5,
        "wall_s": wall,
        "secs_per_round": wall / 5,
        "weights_match_1x": all(abs(a - b) < 1e-9 for a, b in zip(w, ref)),
    }
    if mult == min(p.mults) and not p.warming:
        _, wall, rows = fit(mult, 20)
        yield {
            "series": "rounds_20",
            "rows": rows,
            "iters": 20,
            "wall_s": wall,
            "secs_per_round": wall / 20,
        }


# full-chain wall exponent bound (SCALE.md §15's generous band: the gate
# owns exponents, the bench guard owns percent drift) and the bound on
# full-chain wall / sum of isolated stage walls
MAX_EXPONENT = 1.55
MAX_COMPOSITION = 1.6
CAPACITY = 2048
MAX_DOC_TOKENS = 2048  # clip before packing (l50's truncation census)
N_BENCH_DOCS = 200


def stage_a_curation(d: DataFrame) -> DataFrame:
    """l6's DAG: md5 exact-dedup survivors + length floor + benchmark
    shingle-overlap decontamination (<20%). The benchmark docs are each
    replica's first N_BENCH_DOCS ids, so every replica is the same
    workload."""
    toks = F.split(F.lower("text"), " ")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - 3, F.lit(0)))
    t = d.select(
        "doc_id",
        "lang",
        "text",
        "n_chars",
        F.array_distinct(
            F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, 3), " "))
        ).alias("sh"),
    )
    survivors = t.groupBy(F.md5("text")).agg(F.min("doc_id").alias("doc_id"))
    sh = t.select("doc_id", F.explode("sh").alias("s"))
    is_bench = F.col("doc_id") % SHIFT < N_BENCH_DOCS
    bench = sh.filter(is_bench).select("s").distinct().withColumn("hit", F.lit(1))
    overlap = (
        sh.filter(~is_bench)
        .join(F.broadcast(bench), "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_ov"),
        )
    )
    return (
        t.filter(F.col("n_chars") >= 40)
        .join(survivors.select("doc_id"), "doc_id")
        .join(overlap, "doc_id")
        .filter(5 * F.col("n_ov") < F.col("n_sh"))
        .select("doc_id", "lang", "text")
    )


def stage_b_tokenize(kept: DataFrame, merges: DataFrame) -> DataFrame:
    """The trained merge table applied through the Arrow kernel
    (compile_threshold=0, l62's production path); per-doc token count."""
    words = kept.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("word")
    ).filter(F.col("word") != "")
    seg = bpe_apply(words, merges, compile_threshold=0)
    return seg.groupBy("doc_id").agg(
        F.sum(F.size("syms")).cast("long").alias("n_tokens")
    )


def stage_c_pack(counted: DataFrame) -> DataFrame:
    """l50's bounded-block greedy first-fit into capacity-2048 sequences."""
    items = counted.select(
        "doc_id", F.least(F.col("n_tokens"), F.lit(MAX_DOC_TOKENS)).alias("n")
    )
    return pack_first_fit(items, capacity=CAPACITY, block_width=128)


def stage_d_epoch_shuffle(packed: DataFrame) -> DataFrame:
    """l17's deterministic per-epoch ordering over packed sequences:
    3 epochs of md5(epoch:block:seq) keys + the 256-bucket assignment."""
    seqs = packed.groupBy("block", "seq").agg(F.sum("n").cast("long").alias("fill"))
    epochs = F.explode(F.sequence(F.lit(0), F.lit(2))).alias("epoch")
    keyed = seqs.select("block", "seq", "fill", epochs).select(
        "epoch",
        "fill",
        F.md5(F.concat_ws(":", "epoch", "block", "seq")).alias("h"),
    )
    return keyed.select("epoch", "fill", F.substring("h", 1, 2).alias("bkt"))


def _pipeline_checks(records: list[dict], exponents: dict) -> dict[str, bool]:
    e = exponents.get("wall_full")
    return {
        "exponent_full_chain": e is None or e <= MAX_EXPONENT,
        "composition": all(r["composition_ratio"] <= MAX_COMPOSITION for r in records),
    }


@entry(1, 8, 32, fit=("wall_full",), checks=_pipeline_checks)
def pipeline(p: Probe, mult: int):
    """SCALE.md §21: curation -> BPE tokenize -> pack -> epoch shuffle
    (l6 + l47/l62 + l50 + l17) over disjoint replicas, as one DAG and
    stage by stage on localCheckpoint-materialized inputs. A
    composition ratio (full / sum of isolated) near 1 means composing
    the stages re-derives no upstream stage; the full chain's exponent
    must stay near-linear. The merge table is trained once on the 1x
    corpus, outside every timed region."""
    merges = p.once(
        "merges",
        lambda: bpe_merge_table(_word_counts(_docs(p, 1, True, "lang", "n_chars")), 8)
        .localCheckpoint(),
    )
    d = _docs(p, mult, True, "lang", "n_chars")
    chain = stage_c_pack(stage_b_tokenize(stage_a_curation(d), merges))
    full = measure(stage_d_epoch_shuffle(chain), rows="n_epoch_rows")
    with Stopwatch() as ta:
        a = stage_a_curation(d).localCheckpoint()
        n_kept = a.count()
    with Stopwatch() as tb:
        b = stage_b_tokenize(a, merges).localCheckpoint()
        n_docs_tok = b.count()
    with Stopwatch() as tc:
        c = stage_c_pack(b).localCheckpoint()
        n_items = c.count()
    wd = measure(stage_d_epoch_shuffle(c))["wall_s"]
    iso = ta.s + tb.s + tc.s + wd
    yield {
        "n_epoch_rows": full["n_epoch_rows"],
        "n_kept": n_kept,
        "n_docs_tok": n_docs_tok,
        "n_items": n_items,
        "wall_full": full["wall_s"],
        "wall_curation": ta.s,
        "wall_tokenize": tb.s,
        "wall_pack": tc.s,
        "wall_epoch_shuffle": wd,
        "isolated_sum": iso,
        "composition_ratio": full["wall_s"] / max(iso, 1e-9),
    }


def _prefix_checks(records: list[dict], _exponents: dict) -> dict[str, bool]:
    return {
        "sample_mismatches": all(
            r["sample_rows"] > 0 and r["sample_mismatches"] == 0 for r in records
        )
    }


@entry(16, fit=("naive_s", "bucketed_s"), checks=_prefix_checks)
def prefix(p: Probe, mult: int):
    """SCALE.md §9, g11's trap: a per-flag running SUM over the
    per-distinct-(flag, cents) weight frame, whose rows grow with the
    fact. The naive window funnels each flag through one task;
    ``bucketed_prefix_sum`` (32768-cent bands) bounds every window
    partition. The two cumulative sums must agree on a sample."""
    li = p.table("lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    per_value = (
        replicate(li, mult, ids=("cents",))
        .groupBy("l_returnflag", "cents")
        .agg(F.sum("qty").alias("w"))
        .persist()
    )
    try:
        n = per_value.count()
        naive_w = (
            W.partitionBy("l_returnflag").orderBy(F.col("cents").asc())
            .rowsBetween(W.unboundedPreceding, 0)
        )
        naive_df = per_value.withColumn("cumw", F.sum("w").over(naive_w))
        naive = measure(naive_df)["wall_s"]
        bucketed_df = bucketed_prefix_sum(
            per_value,
            bucket=F.floor(F.col("cents") / 32768),
            order_cols=[F.col("cents").asc()],
            vals={"cumw": "w"},
            part_cols=["l_returnflag"],
        )
        bucketed = measure(bucketed_df)["wall_s"]
        # every 97th cent value: dense enough that the smallest fixture
        # still compares dozens of rows
        sample = F.col("cents") % 97 == 0
        cmp = (
            bucketed_df.filter(sample)
            .select("l_returnflag", "cents", F.col("cumw").alias("cb"))
            .join(naive_df.filter(sample), ["l_returnflag", "cents"])
            .agg(
                F.count(F.lit(1)).alias("sample_rows"),
                F.coalesce(F.sum((F.col("cb") != F.col("cumw")).cast("long")), F.lit(0))
                .alias("sample_mismatches"),
            )
            .first()
        )
        yield {
            "rows": n,
            "naive_s": naive,
            "bucketed_s": bucketed,
            "speedup": naive / bucketed,
            **cmp.asDict(),
        }
    finally:
        per_value.unpersist()


@entry(1, 2, 4, 8)
def relational(p: Probe, mult: int):
    """SCALE.md §1/§2: the q1 scan-agg shape (filter + grouped
    aggregate, no join) and the q3 join-agg shape (orders x lineitem on
    the shifted key); key shifting keeps selectivity and group
    cardinality per replica."""
    li = replicate(p.table("lineitem"), mult, ids=("l_orderkey",))
    o = replicate(p.table("orders"), mult, ids=("o_orderkey",))
    scan_agg = (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sq"),
            F.sum("l_extendedprice").alias("sp"),
            F.avg("l_discount").alias("ad"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    yield {"series": "scan_agg", **measure(scan_agg)}
    join_agg = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    yield {"series": "join_agg", **measure(join_agg)}


SPARSE_R = 20  # per-term posting cap of the pruned index (l68c)


@entry(1, 8, 32)
def sparse(p: Probe, mult: int):
    """SCALE.md §22, l68/l68c: the posting-join pair space under two
    growth regimes. Disjoint replicas grow the vocabulary with the
    corpus and keep per-term df fixed: the exact df-capped index must
    scale linearly. Hot replicas keep the vocabulary fixed so df grows
    with k: the exact pair volume SUM(df^2) grows ~k^2 (censused, not
    run) while the pruned index (posting cap R) bounds pairs at
    |vocab| * R^2, and its top-3 is timed. Censuses come from the df
    frame alone."""
    for regime, disjoint, cap in (("disjoint", True, None), ("hot", False, SPARSE_R)):
        d = _docs(p, mult, disjoint)
        capped = F.least(F.col("df"), F.lit(SPARSE_R))
        census = (
            df_capped_tfidf(doc_terms(d))["df"]
            .filter("kept")
            .agg(
                F.count(F.lit(1)).alias("vocab_kept"),
                F.sum(F.col("df") * F.col("df")).alias("exact_pair_volume"),
                F.sum(capped * capped).alias("pruned_pair_volume"),
            )
            .first()  # bounded: 1-row census
        )
        # one index build outside the timer, reused by the top-3 join
        w = df_capped_tfidf(doc_terms(d), posting_cap=cap)["postings"].localCheckpoint()
        norms = w.groupBy("doc_id").agg(
            F.sqrt(F.sum(F.col("w") * F.col("w")).cast("double")).alias("nr")
        )
        yield {
            "series": regime,
            "index": "exact" if cap is None else "pruned",
            "docs": d.count(),
            **census.asDict(),
            **measure(sparse_cosine_topk(w, norms, k=3)),
        }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        description="Replicate a fixture k times in-session and measure one "
        "operator shape per multiple; exit 1 if the entry's checks fail.",
        epilog="entries (default multiples): "
        + ", ".join(
            f"{n} ({','.join(map(str, e.mults))})" for n, e in sorted(ENTRIES.items())
        ),
    )
    ap.add_argument("entry", choices=sorted(ENTRIES))
    ap.add_argument("--sf", default=DEFAULT_SF_DIR, help="fixture dir")
    ap.add_argument(
        "--mults",
        type=lambda s: [int(x) for x in s.split(",")],
        help="comma-separated multiples (default: the entry's own)",
    )
    args = ap.parse_args(argv)
    spark = get_spark(f"scale-probe-{args.entry}")
    _, summary = run(spark, args.entry, args.sf, args.mults)
    return 0 if summary["ok"] else 1


if __name__ == "__main__":
    sys.exit(main())
