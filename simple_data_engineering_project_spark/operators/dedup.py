"""Deduplication operators — exact and near-duplicate (SURVEY §2 C1/C2).

Exact dedup is a deterministic winner per key (never ``dropDuplicates``,
whose surviving row is partition-order-dependent and would break replay
idempotence — the same trap as the reference's arrival-order upsert).

Near-dup detection implements the standard text-dedup ladder entirely with
JVM-side expressions (no Python in the hot path):

- **MinHash + LSH**: k-shingles → per-shingle universal hashes → per-row
  minhash signature → banding → bucket join → candidate pairs → exact
  Jaccard verify. The shuffle is on (band, bucket-hash) — tiny keys — and
  candidate verification touches only colliding pairs, which is what makes
  this viable at 100 TB (vs. O(n²) all-pairs).
- **SimHash**: weighted bit-vote over token hashes → 64-bit fingerprint;
  near-dups = small Hamming distance, found by joining on rotated bit
  blocks (pigeonhole: d ≤ 3 ⇒ some 16-bit block equal).
- **N-gram Jaccard**: the exact verifier, also exposed standalone.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..functions import normalized_text

# Mersenne prime 2^31-1: universal-hash modulus. With a, h, b all < 2^31,
# a*h + b < 2^62 + 2^31 — no ANSI long overflow (Spark 4 raises on
# overflow instead of wrapping).
_P = (1 << 31) - 1


def dedup_exact(df: DataFrame, keys: list[str], tiebreak: list[str]) -> DataFrame:
    """Keep exactly one row per ``keys``: the smallest ``tiebreak``.

    One shuffle on the dedup key; map-side partial aggregation does not
    apply to row selection, but AQE coalescing keeps post-shuffle
    partitions right-sized.
    """
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).asc() for c in tiebreak])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def shingles(col, k: int = 5):
    """Word k-shingles of normalized text (array<string>, distinct).

    Built by zipping k shifted slices of the token array — slices are
    row-level arguments evaluated once, with only cheap concat work per
    element. The transform(sequence, i -> slice(toks, i+1, k)) form
    instead re-evaluates the token expression (regexp + split) per
    ELEMENT — O(tokens²) regex work per doc, the dominant cost of the
    round-2 minhash bench profile. Short docs (< k tokens) still emit
    one shingle of all tokens: zip_with pads missing elements with
    NULL and concat_ws skips them, matching array_join(slice(...)).
    """
    toks = F.split(normalized_text(col) if isinstance(col, str) else col, " ")
    return shingles_from_tokens(toks, k)


def shingles_from_tokens(toks, k: int = 5):
    """:func:`shingles` over an ALREADY-TOKENIZED array<string> column.

    Pipelines that tokenize once and stage the token array (curate_corpus
    materializes it through the exact-dedup checkpoint) skip the
    normalization regex here — at corpus scale the regex pass over full
    text is the dominant per-row cost of signature computation."""
    m = F.greatest(F.size(toks) - F.lit(k), F.lit(0)) + F.lit(1)
    acc = F.slice(toks, 1, m)
    for j in range(2, k + 1):
        acc = F.zip_with(
            acc, F.slice(toks, j, m), lambda x, y: F.concat_ws(" ", x, y)
        )
    return F.array_distinct(acc)


def _shingle_hash(sh):
    """Stable positive hash of a shingle, < 2^31 (xxhash64 folded)."""
    return F.pmod(F.xxhash64(sh), F.lit(_P)).cast("long")


def _hash_family(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) universal-hash parameters, Python-side.

    Driver-computed constants embedded as literals: the alternative
    (xxhash64-of-literal expressions) defeats constant folding inside
    higher-order functions and re-evaluates per row.
    """
    import random

    rnd = random.Random(seed)
    return [(rnd.randrange(1, _P), rnd.randrange(0, _P)) for _ in range(num_hashes)]


def _minhash_sig_arrow(num_hashes: int, seed: int):
    """Row-local MinHash signature as an Arrow-batched column: takes the
    array<long> of shingle hashes (JVM xxhash64 — bit-identical to the
    explode→groupBy path) and folds the universal-hash minima in numpy.

    Why this exists alongside :func:`minhash_signatures_df`: the
    explode→agg path costs a full (id, hash) shuffle plus a join back
    to the corpus when the signature must ride WITH the rows (the
    fuzzy-dedup base checkpoint). This form is shuffle-free — one
    projection inside whatever job materializes the corpus — and the
    numpy fold ((num_hashes × shingles) broadcast, a*h+b < 2^62 so
    int64 never overflows) is vectorized where the Catalyst
    higher-order-function fold is interpreted per element (round-13
    profiling: the interpreted fold QUINTUPLED curate_corpus).
    """
    fam = _hash_family(num_hashes, seed)
    a = np.array([f[0] for f in fam], dtype=np.int64).reshape(-1, 1)
    b = np.array([f[1] for f in fam], dtype=np.int64).reshape(-1, 1)

    @pandas_udf("array<long>")
    def sig(hashes: pd.Series) -> pd.Series:
        out = []
        for hs in hashes:
            # Empty shingle arrays (reachable via the public toks_col
            # contract with pre-tokenized [] rows) get None like null
            # input: the explode→groupBy twin emits no signature row
            # for such docs, and the sig.isNotNull() filter in
            # minhash_lsh_candidates then gives both paths identical
            # semantics instead of a zero-size-reduction crash here.
            if hs is None or len(hs) == 0:
                out.append(None)
                continue
            h = np.asarray(hs, dtype=np.int64)
            out.append(((a * h + b) % _P).min(axis=1))
        return pd.Series(out)

    return sig


def _spread(df: DataFrame, key: str) -> DataFrame:
    """Widen parallelism for compute-heavy per-row work when the input has
    fewer partitions than the cluster can run (small files / local tests).

    Hash-partitioning on ``key`` means the downstream groupBy(key) can
    reuse the distribution. When the input is already at least as wide as
    the cluster (the 100 TB case), this is a no-op — no extra shuffle.

    The partition probe reads ``queryExecution().toRdd()`` — NOT
    ``df.rdd``, which wraps the plan in a javaToPython conversion and
    re-runs the whole analysis on that separate plan (round-10
    profiling: 1.3 s/run of pure probe overhead in curate_corpus).
    ``toRdd`` is the same physical plan the subsequent action (a
    localCheckpoint in every call site) materializes, and the JVM
    caches it on the Dataset, so the wide-input probe costs nothing
    extra.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df._jdf.queryExecution().toRdd().getNumPartitions() < target:
        return df.repartition(target, key)
    return df


def minhash_signatures_df(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_hashes: int = 64,
    seed: int = 42,
    toks_col: str | None = None,
) -> DataFrame:
    """(id, sig: array<long>) via explode → 64 min-aggregates.

    The scale shape: one narrow explode (id, shingle-hash), then a single
    hash aggregate computing all minima — whole-stage codegen, map-side
    combine, shuffle carries one row per id. At 100 TB this is strictly
    a scan + one keyed agg; no interpreted lambdas in the hot path.
    ``toks_col`` names a pre-tokenized array<string> column to shingle
    instead of re-normalizing ``text_col`` (see curate_corpus).
    """
    df = _spread(df, id_col)
    sh_expr = (
        shingles_from_tokens(F.col(toks_col), k)
        if toks_col
        else shingles(text_col, k)
    )
    exploded = df.select(
        F.col(id_col).alias("id"),
        F.explode(sh_expr).alias("sh"),
    ).select("id", _shingle_hash(F.col("sh")).alias("h"))
    aggs = [
        F.min(F.pmod(F.lit(a) * F.col("h") + F.lit(b), F.lit(_P))).alias(f"m{i}")
        for i, (a, b) in enumerate(_hash_family(num_hashes, seed))
    ]
    sig = exploded.groupBy("id").agg(*aggs)
    return sig.select(
        "id", F.array(*[F.col(f"m{i}") for i in range(num_hashes)]).alias("sig")
    )


def _drop_oversize_buckets(
    blocked: DataFrame, keys: list[str], cap: int
) -> DataFrame:
    """Skew guard for blocked self-joins: drop blocks with > ``cap``
    members before pairing (a block of m emits m² pairs).

    The census aggregate combines map-side (one row per partition×block
    crosses the wire). The anti-join is deliberately UNhinted: oversize
    blocks are rare for organic corpora (so AQE broadcasts the tiny
    blacklist at runtime), but an adversarial corpus — a spam flood
    where most blocks exceed the cap — can grow the blacklist without
    bound, and a forced broadcast would OOM the driver; unhinted, AQE
    degrades to a shuffled join. Members of a dropped block still pair
    through their other bands/blocks. (A window-count form — one pass
    over the block-key shuffle — was tried in round 13 and LOST ~3 s on
    curate_corpus: WindowExec's mandatory sort over every banded row
    costs more than the tiny combined census crossing the wire.)
    """
    oversize = (
        blocked.groupBy(*keys)
        .agg(F.count("*").alias("__bn"))
        .filter(F.col("__bn") > cap)
        .select(*keys)
    )
    return blocked.join(oversize, keys, "left_anti")


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    max_bucket_size: int = 10_000,
    toks_col: str | None = None,
    sig_df: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash-LSH.

    rows_per_band = num_hashes / bands; a pair collides if any band's
    signature slice matches exactly. Returns (id_a, id_b, jaccard_est)
    with id_a < id_b, deduplicated across bands. Shuffles: one groupBy on
    (band, slice-hash) to form buckets, one self-join within buckets —
    both keyed on small hashes.

    ``max_bucket_size`` is the skew guard: a degenerate bucket of m
    members (boilerplate text hashing millions of docs to one signature
    slice) would emit m² pairs and sink the job. Buckets larger than the
    cap are dropped from *this* band — members still pair through their
    other bands, and true near-dups of degenerate text are cheaper to
    catch by exact-fingerprint dedup first. A window count-per-bucket
    (one extra pass over the banded rows) enforces the cap before any
    pairing.
    """
    rows_per_band = num_hashes // bands
    # Materialize signatures: one narrow row per doc (64 longs), consumed
    # twice (bucket-size census + pairing join). At corpus scale this is
    # the "signature table" every production MinHash pipeline pipelines
    # stages. ``sig_df`` lets a caller that ALREADY staged signatures
    # (dedup_fuzzy_keep_one computes them row-locally inside its base
    # checkpoint — one materialization instead of two jobs) hand in the
    # (id, sig) table directly.
    if sig_df is not None:
        sig = sig_df
    else:
        sig = minhash_signatures_df(
            df, id_col, text_col, k, num_hashes, seed, toks_col
        ).localCheckpoint()
    # Null signatures (null-text docs via the Arrow row-local path)
    # never pair: without this filter every null-sig doc lands in the
    # SAME bucket of every band (xxhash64 of a null slice is the
    # constant seed), an O(m²) candidate blowup on dirty corpora —
    # and the explode→groupBy path emits no row for them at all, so
    # filtering keeps the two signature paths equivalent (round-13
    # review finding).
    sig = sig.filter(F.col("sig").isNotNull())
    # The banded relation carries ONLY (id, band, bucket) — 24-byte
    # rows. The signature payload (num_hashes longs, ×bands copies per
    # doc) used to ride every banded row through the bucket self-join's
    # two shuffles AND the pair dropDuplicates exchange (~17 KB/doc at
    # 64 hashes / 16 bands); shuffling the metadata alone and
    # re-attaching signatures to the DEDUPED candidate pairs is the
    # guide-§2.3/§8 "decide with small rows, move payloads once" shape
    # (round-16; candidate pairs ≪ banded rows, so AQE broadcasts them
    # and the signature table is probed map-side, never shuffled).
    banded = sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.slice("sig", b * rows_per_band + 1, rows_per_band)
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    banded = _drop_oversize_buckets(banded, ["band", "bucket"], max_bucket_size)
    a = banded.alias("a")
    b = banded.alias("b")
    pair_ids = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = (
        pair_ids.join(
            sig.select(F.col("id"), F.col("sig").alias("sig_a")),
            F.col("id_a") == F.col("id"),
        )
        .drop("id")
        .join(
            sig.select(F.col("id"), F.col("sig").alias("sig_b")),
            F.col("id_b") == F.col("id"),
        )
        .drop("id")
    )
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.lit(num_hashes)
    return pairs.select("id_a", "id_b", est.cast("double").alias("jaccard_est"))


def ngram_jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    threshold: float = 0.0,
    toks_col: str | None = None,
) -> DataFrame:
    """Exact shingle-Jaccard verification of candidate (id_a, id_b) pairs.

    Joins shingle sets onto candidates only — never all-pairs — so cost is
    proportional to LSH collisions, not n². The corpus is first semi-joined
    down to ids that occur in some pair, so shingling (the expensive
    per-row work) also touches only colliding docs — at low collision
    rates that is a ~n/|candidates| saving, the difference between
    re-tokenizing the corpus and re-tokenizing the suspects. Candidates
    are materialized once since deriving the id set would otherwise
    re-execute the whole LSH pipeline. Broadcast is left to AQE since
    the shingle side is large.
    """
    candidates = candidates.localCheckpoint()
    cand_ids = (
        candidates.select(
            F.explode(F.array("id_a", "id_b")).alias("cid")
        ).distinct()
    )
    suspects = df.join(
        cand_ids, df[id_col] == F.col("cid"), "left_semi"
    )
    # sh joins onto BOTH pair sides (sh_a and sh_b) — without
    # materialization the suspect semi-join and the shingling (the
    # expensive per-row work) execute twice (the multi-pass-consumer
    # rule; bounded: colliding docs only, one shingle array each)
    sh = suspects.select(
        F.col(id_col).alias("id"),
        (
            shingles_from_tokens(F.col(toks_col), k)
            if toks_col
            else shingles(text_col, k)
        ).alias("sh"),
    ).localCheckpoint(eager=False)
    out = (
        candidates.join(sh.withColumnRenamed("sh", "sh_a"), F.col("id_a") == F.col("id"))
        .drop("id")
        .join(sh.withColumnRenamed("sh", "sh_b"), F.col("id_b") == F.col("id"))
        .drop("id")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def _portable_token_hash(t):
    """60-bit token hash both engines compute bit-identically: the first
    15 hex chars of md5 as an integer (Spark ``conv(,16,10)``; DuckDB
    ``('0x' || substring(md5(t),1,15))::BIGINT`` — the cc_dedup digest
    primitive). Portability is what lets the simhash ORACLE recompute
    fingerprints instead of trusting ours (xxhash64 has no DuckDB twin);
    60 bits also stays clear of the int64 sign bit."""
    return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")


def simhash(text_col, bits: int = 60):
    """60-bit SimHash of the normalized token multiset.

    Per token: a portable md5-prefix hash → each bit votes ±1;
    fingerprint bit = sign of the vote sum. Expression-only
    (transform/aggregate over the token array, then a bit-assembly
    fold); near-dups have small Hamming distance.
    """
    toks = F.split(
        normalized_text(text_col) if isinstance(text_col, str) else text_col, " "
    )
    hashes = F.transform(toks, lambda t: _portable_token_hash(t))
    bit_votes = [
        F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )
        for i in range(bits)
    ]
    fp = F.lit(0).cast("long")
    for i, vote in enumerate(bit_votes):
        # shiftleft instead of a lit(1 << i): 1 << 63 overflows a JVM long
        # literal, but shifting into the sign bit is well-defined.
        fp = fp.bitwiseOR(
            F.when(vote > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
                F.lit(0).cast("long")
            )
        )
    return fp


def hamming64(a, b):
    """Hamming distance between two int64 fingerprints (popcount of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_df(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 60
) -> DataFrame:
    """(id, fp) SimHash fingerprints via explode → bit-vote aggregates.

    One narrow explode (id, token-hash) then a single hash aggregate with
    ``bits`` sum-of-votes columns — whole-stage codegen + map-side
    combine, vs. the interpreted per-row array fold of :func:`simhash`.
    """
    df = _spread(df, id_col)
    exploded = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(normalized_text(text_col), " ")).alias("t"),
    ).select("id", _portable_token_hash(F.col("t")).alias("h"))
    aggs = [
        F.sum(
            F.when(F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(bits)
    ]
    votes = exploded.groupBy("id").agg(*aggs)
    fp = F.lit(0).cast("long")
    for i in range(bits):
        fp = fp.bitwiseOR(
            F.when(
                F.col(f"v{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)
            ).otherwise(F.lit(0).cast("long"))
        )
    return votes.select("id", fp.alias("fp"))


def simhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket_size: int = 10_000,
) -> DataFrame:
    """Near-dup pairs by SimHash with blocked search.

    Pigeonhole: distance ≤ 3 over 60 bits ⇒ at least one of 4 15-bit
    blocks is identical. Join on (block-index, block-value) — an equi-join
    a thousand-executor cluster shuffles cheaply — then verify Hamming.
    The pigeonhole is EXACT (structural recall 1 for ≤ max_hamming over
    the covered pair set), which is what lets the catalog oracle
    recompute fingerprints and check the pair set all-pairs.
    Degenerate blocks above ``max_bucket_size`` are dropped before
    pairing (see :func:`_drop_oversize_buckets`); the fingerprint table
    is staged once since the census and the join both consume it.
    """
    fp = simhash_df(df, id_col, text_col).localCheckpoint()
    blocked = fp.select(
        "id",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftrightunsigned("fp", 15 * i)
                        .bitwiseAND(F.lit(0x7FFF))
                        .alias("val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bv"),
    ).select("id", "fp", "bv.blk", "bv.val")
    blocked = _drop_oversize_buckets(blocked, ["blk", "val"], max_bucket_size)
    a, b = blocked.alias("a"), blocked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming64(F.col("a.fp"), F.col("b.fp")).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


def embedding_near_dups(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    bands: int = 16,
    bits: int = 8,
    seed: int = 42,
    max_bucket_size: int = 10_000,
) -> DataFrame:
    """Near-dup pairs by embedding cosine ≥ ``threshold`` (semantic dedup).

    SRP-LSH blocking (shared with similarity search): vectors landing in
    the same (band, bucket) in ≥1 of ``bands`` bands become candidate
    pairs; only candidates get the exact cosine. High-cosine pairs agree
    on most hyperplane signs, so per-band collision probability ≈
    (1 - θ/π)^bits — with 16×8 bands, recall at cosine ≥ 0.95 is ≳0.99
    while random pairs almost never collide. The shuffle key is the tiny
    (band, bucket) pair; no O(n²) stage anywhere, which is what makes
    this the 100 TB-safe shape (the exact verify touches colliding pairs
    only).
    """
    from ..functions import cosine_similarity
    from .similarity import srp_signature_udf

    sig_udf = srp_signature_udf(dim, bands, bits, seed)
    # Staged once: both self-join sides and the bucket census consume it,
    # and re-deriving it re-runs the signature UDF over the corpus.
    sig = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        sig_udf(F.col(vec_col)).alias("sig"),
    ).localCheckpoint()
    banded = sig.select(
        "id",
        "v",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), F.col("sig")[b].alias("bucket"))
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "v", "bb.band", "bb.bucket")
    banded = _drop_oversize_buckets(banded, ["band", "bucket"], max_bucket_size)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.v").alias("va"),
            F.col("b.v").alias("vb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    # filter on the RAW cosine (bit-identical to the oracle's
    # list_dot_product fold), round only the emitted column — rounding
    # before the threshold could admit a pair the oracle rejects
    return (
        cand.select(
            "id_a",
            "id_b",
            cosine_similarity(F.col("va"), F.col("vb")).alias("__c"),
        )
        .filter(F.col("__c") >= threshold)
        .select("id_a", "id_b", F.round("__c", 6).alias("cosine"))
    )


def connected_components(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """(node, component) via min-label propagation over candidate edges.

    Each node starts labeled with itself; every round each node takes the
    minimum label among itself and its neighbors, until no label changes
    (or ``max_iter``). Near-dup graphs are unions of small cliques, so
    convergence is fast — O(graph diameter) rounds, and LSH components
    have tiny diameters. Each round is one equi-join + one groupBy on
    node ids; ``localCheckpoint`` truncates the iterative plan lineage
    (without it, round N's plan contains all N-1 predecessors and
    analysis cost explodes — the known trap of iterative DataFrame
    algorithms).
    """
    # ONE materialization sets up the whole iteration: each input edge
    # explodes to both directions PLUS a flagged self-loop per endpoint
    # — a single pass over the edge relation (upstream it may be an
    # expensive pipeline — LSH candidates + verification — that must
    # not re-execute; the earlier union-of-selects form executed it
    # once per branch, and separate sym/labels/rounds checkpoints paid
    # three jobs for what this pays in one; round-10 curate_corpus
    # profiling). Self-loops are emitted per INCIDENT EDGE, so a node
    # of degree d carries d duplicate self-loops — harmless: they feed
    # MIN/MAX aggregates only, and the first groupBy(src) deduplicates
    # the label table before round 2.
    def _dir(src_col, dst_col, self_flag):
        return F.struct(
            F.col(src_col).alias("src"),
            (F.col(src_col) if self_flag else F.col(dst_col)).alias("dst"),
            F.lit(self_flag).alias("__self"),
        )

    rounds_edges = (
        edges.select(
            F.explode(
                F.array(
                    _dir(id_a, id_b, False),
                    _dir(id_b, id_a, False),
                    _dir(id_a, id_a, True),
                    _dir(id_b, id_b, True),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst", "e.__self")
        .localCheckpoint()
    )
    # Initial labels: every node labels itself — derived from the
    # checkpointed edge relation, no separate materialization (the
    # distinct executes inside round 1's job). The distinct is
    # REQUIRED, not cosmetic: labels joins on dst, so degree-many
    # duplicate label rows would multiply against the degree-many
    # self-loop rows of the same node — quadratic in degree on hubs.
    labels = (
        rounds_edges.filter(F.col("__self"))
        .select(F.col("src").alias("node"), F.col("src").alias("component"))
        .distinct()
    )
    for it in range(max_iter):
        # The self-loop row delivers the node's OWN current label into
        # the same aggregate, so one pass yields both the new label
        # (min over self + neighbors) and the old one — the convergence
        # check is then a filter over this checkpointed result instead
        # of a separate new⋈old join per round.
        step = (
            rounds_edges.join(labels, rounds_edges.dst == labels.node)
            .groupBy("src")
            .agg(
                F.min("component").alias("component"),
                F.max(
                    F.when(F.col("__self"), F.col("component"))
                ).alias("__prev"),
            )
        )
        if it == 0 and max_iter > 1:
            # Round 1 cannot converge on a nonempty edge set — every
            # pair has two distinct endpoints, so the larger one takes
            # a smaller label. Skip the check AND the checkpoint: the
            # step has a single consumer (round 2's join), so round 2
            # executes both rounds in one job over the checkpointed
            # edge relation. (Degenerate self-pair edges merely cost
            # one extra round.) Two fewer jobs on the diameter-1
            # clique graphs LSH dedup produces.
            labels = step.select(F.col("src").alias("node"), "component")
            continue
        step = step.localCheckpoint()
        changed = (
            step.filter(F.col("component") != F.col("__prev"))
            .limit(1)
            .count()
        )
        labels = step.select(F.col("src").alias("node"), "component")
        if changed == 0:
            break
    return labels


def dedup_fuzzy_keep_one(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    k: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    toks_col: str | None = None,
) -> DataFrame:
    """Full fuzzy-dedup pipeline: keep one document per near-dup cluster.

    MinHash-LSH candidates → exact Jaccard ≥ threshold verify →
    connected components → keep the min-id member of each component.
    Documents in no component (no near-dup) survive untouched. This is
    the end-to-end shape of training-corpus dedup at scale: every stage
    is keyed joins/aggs; no all-pairs, no driver data paths.

    The input is materialized first: fuzzy dedup reads the corpus in
    several passes (signatures, two shingle-set joins, the final
    anti-join), and when ``df`` is itself a pipeline (filters, prior
    dedup) re-deriving it per pass multiplies its cost. At cluster scale
    this is the "stage the filtered corpus to storage once" step every
    multi-pass dedup job does.
    """
    # The MinHash signature rides INSIDE the base checkpoint —
    # shingle hashes JVM-side (xxhash64, identical values to the
    # explode→groupBy path), minima folded in one Arrow-batched numpy
    # pass — so ONE materialization stages corpus + signatures
    # together, where the separate explode→groupBy signature job costs
    # an extra shuffle + its own checkpoint (round-13 profiling:
    # ~1 s/run of pure job overhead on curate_corpus). Shuffle-free
    # and embarrassingly parallel, so the trade holds at cluster scale.
    sh_expr = (
        shingles_from_tokens(F.col(toks_col), k)
        if toks_col
        else shingles(text_col, k)
    )
    # Materialize the CORPUS BYTES first, probe after, and compute the
    # signature only once the stage is at full width. Probing the
    # unmaterialized input would force its AQE query stages just to
    # read a partition count (round-10 profiling: 1.3 s/run on the
    # curate_corpus chain); the probe on the materialized LogicalRDD
    # is free. Round 14 moved the signature OUT of the first
    # checkpoint: AQE coalesces shuffle reads by BYTES, so after a
    # selective gate the upstream relation routinely lands at a
    # handful of partitions (sf0.1 curate: 2 of 32), and a signature
    # riding the first checkpoint's projection runs the corpus's
    # dominant Arrow pass on that handful of cores — the same
    # under-parallelization hits a 1000-executor cluster, where a
    # byte-coalesced post-filter stage turns the CPU-bound signature
    # fold into a 10-task stage. Cost of the split: one extra
    # shuffle-free materialization of the (signature-less) corpus
    # when the input was already wide; the narrow case REPLACES its
    # old second checkpoint (which re-copied corpus + signatures)
    # with this cheaper bytes-only one.
    df = df.localCheckpoint()
    df = _spread(df, id_col).withColumn(
        "__sig",
        _minhash_sig_arrow(num_hashes, seed)(
            F.transform(sh_expr, _shingle_hash)
        ),
    ).localCheckpoint()
    sig = df.select(
        F.col(id_col).alias("id"), F.col("__sig").alias("sig")
    )
    cands = minhash_lsh_candidates(
        df, id_col, text_col, k, num_hashes, bands, seed,
        toks_col=toks_col, sig_df=sig,
    )
    verified = ngram_jaccard_pairs(
        df.drop("__sig"), cands, id_col, text_col, k, threshold,
        toks_col=toks_col,
    )
    df = df.drop("__sig")
    comp = connected_components(verified)
    winners = comp.groupBy("component").agg(F.min("node").alias("__keep"))
    drop = (
        comp.join(winners, "component")
        .filter(F.col("node") != F.col("__keep"))
        .select(F.col("node").alias("__drop"))
    )
    return df.join(
        drop, df[id_col] == drop.__drop, "left_anti"
    )


def dedup_spans_global(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_docs: int = 3,
) -> DataFrame:
    """Exact-substring span dedup: scrub corpus-wide repeated n-grams.

    The Lee et al. 2021 ("Deduplicating Training Data Makes Language
    Models Better") shape at token granularity: any word ``n``-gram that
    occurs in ≥ ``min_docs`` distinct documents is boilerplate; every
    token covered by such a gram is removed and the survivors are
    reassembled in original order. Unlike document-level dedup (C1/C2)
    this removes the duplicated *span* while keeping the unique
    remainder of each document — the memorization-risk scrub that
    near-dup removal misses.

    Returns one row per input document:
    ``(id, n_tokens, n_kept, n_removed, clean_md5)`` where ``clean_md5``
    is md5 of the space-joined kept tokens (md5('') when none survive).

    Scale shape — three keyed shuffles, none quadratic:

    1. gram frequency: posexplode grams → groupBy(gram) with map-side
       partial ``countDistinct`` (approx first at real scale);
    2. coverage: duplicated grams join back to gram starts (equi-join on
       the gram key), explode each hit to its ``n`` covered positions;
    3. reassembly: left_anti on (id, pos), then one groupBy(id) with
       ``sort_array(collect_list(struct(pos, token)))``.

    The gram join key is the gram STRING so the DuckDB oracle can form
    the identical key; at 100 TB swap it for ``xxhash64(gram)`` (64-bit
    collisions are immaterial to a boilerplate scrub) so the shuffle
    moves 8-byte keys instead of ~6-word strings.
    """
    toks, tok, covered = _span_coverage(df, id_col, text_col, n, min_docs)
    return _span_report(toks, tok, covered, id_col)


def _span_coverage(df, id_col, text_col, n, min_docs):
    """Shared front half of the span scrubbers: (toks, tok, covered)
    where ``covered`` is the distinct (id, pos) set lying under any
    ``n``-gram repeated in >= ``min_docs`` distinct documents. The gram
    join key stays a STRING for oracle parity; at 100 TB swap it for
    ``xxhash64(gram)`` — one place now, both operators inherit it."""
    # _spread BEFORE the checkpoint: localCheckpoint preserves
    # partitioning, so a one-partition small file would otherwise pin
    # all gram construction and explodes to a single core
    toks = (
        _spread(df, id_col)
        .select(
            F.col(id_col),
            F.array_remove(
                F.split(normalized_text(text_col), " "), ""
            ).alias("__tl"),
        )
        .localCheckpoint()
    )
    # (id, pos, token) — pos is 0-based original order
    tok = toks.select(id_col, F.posexplode("__tl").alias("pos", "token"))
    # (id, start, gram): grams from a materialized token array; slice()
    # per element is O(tokens·n) — never re-derives the regex.
    grams = toks.select(
        F.col(id_col),
        F.posexplode(
            F.when(
                F.size("__tl") >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size("__tl") - F.lit(n - 1)),
                    lambda s: F.array_join(F.slice(F.col("__tl"), s, n), " "),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("start", "gram"),
    )
    dup = (
        grams.groupBy("gram")
        .agg(F.count_distinct(F.col(id_col)).alias("__d"))
        .filter(F.col("__d") >= min_docs)
        .select("gram")
    )
    covered = (
        grams.join(dup, "gram")
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("start"), F.col("start") + F.lit(n - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    return toks, tok, covered


def _span_report(toks, tok, scrub, id_col, extra=None):
    """Shared back half: remove the (id, pos) ``scrub`` set, reassemble
    survivors in order, and report per-doc counts + the clean digest.
    ``extra`` optionally left-joins additional per-doc columns
    (coalesced to 0 longs)."""
    kept = tok.join(scrub, [id_col, "pos"], "left_anti")
    kept_per_doc = kept.groupBy(id_col).agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "token"))),
                lambda s: s["token"],
            ),
            " ",
        ).alias("__clean"),
    )
    out = toks.select(
        id_col, F.size("__tl").cast("long").alias("n_tokens")
    ).join(kept_per_doc, id_col, "left")
    cols = [
        F.col(id_col),
        F.col("n_tokens"),
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0)))
        .cast("long")
        .alias("n_removed"),
    ]
    if extra is not None:
        extra_df, extra_cols = extra
        out = out.join(extra_df, id_col, "left")
        cols += [
            F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c)
            for c in extra_cols
        ]
    cols.append(
        F.md5(F.coalesce(F.col("__clean"), F.lit(""))).alias("clean_md5")
    )
    return out.select(*cols)

def dedup_spans_maximal(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_docs: int = 3,
    min_run: int = 8,
) -> DataFrame:
    """Variable-length span scrub over MAXIMAL repeated runs (an
    upper-bound approximation of the Lee et al. 2021 suffix-array pass,
    which removes repeated substrings of >= 50 tokens rather than fixed
    n-grams).

    :func:`dedup_spans_global` scrubs every token covered by ANY
    duplicated ``n``-gram; this operator first merges adjacent covered
    positions into maximal runs and scrubs only runs of at least
    ``min_run`` tokens — a short incidental repeat (a common idiom, a
    date line) survives, while genuinely memorized boilerplate (which
    covers long contiguous stretches) is removed. ``min_run > n``
    approximates the suffix-array length threshold on top of n-gram
    machinery. Note the approximation is an UPPER BOUND on what the
    suffix-array pass would scrub: every window inside a merged run is
    duplicated somewhere, but adjacent windows may be duplicated
    against DIFFERENT documents, so the run as a whole need not occur
    contiguously anywhere else — this scrub is slightly more aggressive
    than the exact semantics (round-9 advice).

    Returns one row per input document:
    ``(id, n_tokens, n_kept, n_removed, n_runs_scrubbed, clean_md5)``.

    Scale shape — the dedup_spans_global pipeline plus one keyed window
    pass: run-merging is LAG + running SUM partitioned BY DOCUMENT
    (per-doc token counts bound the partition, never corpus-wide), run
    lengths are one more keyed aggregate, and reassembly is unchanged.
    No new unkeyed shuffle anywhere.
    """
    from pyspark.sql.window import Window

    toks, tok, covered = _span_coverage(df, id_col, text_col, n, min_docs)
    # Merge adjacent covered positions into maximal runs: a gap in the
    # sorted position sequence starts a new run. Both windows are
    # partitioned by document — bounded by the longest document.
    w = Window.partitionBy(id_col).orderBy("pos")
    runs = covered.select(
        id_col,
        "pos",
        F.when(F.col("pos") - F.lag("pos").over(w) == 1, F.lit(0))
        .otherwise(F.lit(1))
        .alias("__new"),
    ).select(
        id_col,
        "pos",
        F.sum("__new")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("run_id"),
    ).localCheckpoint(eager=False)
    # ^ runs feeds TWO consumers (long_runs and the scrub join-back);
    # without materialization the whole covered-subtree — gram
    # explode, duplicate census, coverage distinct, both windows —
    # re-executed per consumer (the multi-pass-consumer rule; narrow
    # (id, pos, run_id) rows bound the cache)
    long_runs = (
        runs.groupBy(id_col, "run_id")
        .agg(F.count("*").alias("__rl"))
        .filter(F.col("__rl") >= min_run)
    )
    scrub = runs.join(long_runs, [id_col, "run_id"]).select(id_col, "pos")
    runs_per_doc = long_runs.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_runs_scrubbed")
    )
    return _span_report(
        toks, tok, scrub, id_col, extra=(runs_per_doc, ["n_runs_scrubbed"])
    )


def dedup_paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    para_words: int = 10,
) -> DataFrame:
    """Corpus-level paragraph dedup with reassembly (the CCNet /
    RefinedWeb line-dedup step): split each document into fixed-width
    word "paragraphs", drop every paragraph whose content already
    appeared anywhere earlier in the corpus (first occurrence by
    (id, para_id) wins, globally), and stitch each document back
    together from its surviving paragraphs.

    Returns (id, n_paras, n_kept, kept_md5): paragraph counts before and
    after dedup plus an md5 of the reassembled text (kept compact so the
    oracle hash stays cheap). Documents with no alphanumeric words emit
    no row; documents whose every paragraph was seen elsewhere first
    emit n_kept=0 with md5('').

    Scale shape: paragraph extraction is a row-local posexplode (zero
    shuffles, output rows ~ corpus_words/para_words regardless of
    document skew); global first-occurrence selection is ONE window
    shuffle keyed on the 32-byte md5 of the paragraph (never the raw
    text — bounded key width at 100 TB); reassembly is ONE keyed
    aggregate back on the document id. No joins against the corpus, no
    driver state. (∅ in reference; Tier C extension.)
    """
    from ..functions import tokens

    words = F.filter(tokens(text_col), lambda t: t != "")
    src = df.select(F.col(id_col), words.alias("__ws")).filter(
        F.size("__ws") > 0
    )
    n_para = F.ceil(F.size("__ws") / F.lit(para_words)).cast("int")
    paras = src.select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_para - F.lit(1)),
                lambda i: F.array_join(
                    F.slice(
                        "__ws", i * para_words + F.lit(1), para_words
                    ),
                    " ",
                ),
            )
        ).alias("para_id", "para"),
    ).withColumn("__pmd5", F.md5("para"))
    # ONE aggregation computes totals AND the survivor reassembly from
    # the ranked relation (round-15 optimization, guide §2.4): the
    # former shape consumed `paras` twice (window-kept + a separate
    # totals groupBy) — re-running the tokenize/explode/md5 subtree,
    # the dominant per-row cost — and then joined the two aggregates
    # back on id. collect_list ignores the NULLs the keep-guard emits
    # for dropped paragraphs, so a doc whose every paragraph was seen
    # first elsewhere aggregates to n_kept=0 / '' / md5('') exactly as
    # the join's coalesce produced. Two exchanges total (gram-md5
    # window, id groupBy), no join, paras evaluated once.
    w = Window.partitionBy("__pmd5").orderBy(id_col, "para_id")
    keep = F.col("__rn") == 1
    return (
        paras.withColumn("__rn", F.row_number().over(w))
        .groupBy(id_col)
        .agg(
            F.count("*").cast("int").alias("n_paras"),
            F.count(F.when(keep, 1)).cast("int").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.when(keep, F.struct("para_id", "para"))
                        )
                    ),
                    lambda s: s["para"],
                ),
                " ",
            ).alias("__kept_text"),
        )
        .select(
            id_col,
            "n_paras",
            "n_kept",
            F.md5(F.col("__kept_text")).alias("kept_md5"),
        )
    )
