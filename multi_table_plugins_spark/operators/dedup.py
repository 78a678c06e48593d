"""Deduplication family for web-scale training-data curation.

Scale design: every method here avoids the O(n²) all-pairs comparison —
candidates are generated by LSH band bucketing (MinHash) or an
inverted shingle index, so the shuffle key always bounds the comparison
set. Verification (exact Jaccard) runs only inside candidate buckets.
Everything is Catalyst higher-order-function expressions; no Python UDFs.

  * minhash_signatures   — n independent murmur3 min-hashes over shingles
  * lsh_candidate_pairs  — banding → bucket join → verified Jaccard
  * simhash64            — 64-bit SimHash over words (xxhash64 bit votes)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.textfns import word_shingles, words


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_k: int = 3,
    hash_fn: str = "murmur3",
) -> DataFrame:
    """(id, shingles, sig[num_hashes]) — sig[i] is the min of
    hash(shingle, seed=i) over the doc's shingle set. All expressions;
    the num_hashes mins evaluate in one codegen'd projection.

    The string hash runs ONCE per shingle; the ``num_hashes`` family
    members are multiply-mod mixes of that base value
    (``(a_i*h + b_i) mod 2^31-1``, a universal hash family) — int ops,
    so widening the signature costs almost nothing.

    ``hash_fn``:
      * ``"murmur3"`` (default) — JVM murmur3 base hash, the fast path.
      * ``"md5"`` — 48-bit md5 base hash; every value is reproducible in
        ANSI SQL (DuckDB oracle parity) — same LSH semantics, portable
        candidate sets.
    """
    sh = F.array_distinct(word_shingles(text_col, shingle_k)).alias("shingles")
    if hash_fn == "md5":
        base_hash = md5_hash48
    else:
        # murmur3 int32, lifted non-negative so the mix matches md5 range
        # semantics (mod arithmetic on non-negatives)
        base_hash = lambda x: F.hash(x).cast("long") + F.lit(1 << 31)  # noqa: E731
    # A small corpus arriving as one file = one partition would run the
    # whole shingle+hash evaluation on one core (HOF expressions are
    # interpreted, not codegen'd — measured 7.5s single-core for 5k
    # docs). Fan out to the cluster's parallelism first; at scale the
    # input already has >= that many partitions and this is a no-op.
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target)
    # persist = a materialization barrier: without it CollapseProject
    # inlines the shingle+hash expression into all num_hashes min
    # expressions and the string hashing runs num_hashes times per row
    # (measured 10x slower). The cached frame is (id, shingles, 8B/
    # shingle hash values) — tiny relative to the corpus.
    base = df.select(
        F.col(id_col), sh, F.transform(sh, base_hash).alias("_hv")
    ).persist()

    sig = _minhash_sig_expr(num_hashes).alias("sig")
    out = base.select(id_col, "shingles", sig)
    # expose the cached frame so pipeline callers can release it
    # (one-shot query contexts rely on LRU eviction)
    out._mtp_cached = base
    return out


def _mix_constants(seed: int) -> tuple[int, int, int]:
    """Multiply-mod family constants for member ``seed``: odd multiplier,
    spread offset, Mersenne-31 modulus. a*h+b stays < 2^55 for 48-bit h,
    so the arithmetic is exact (no wraparound) in both the JVM and ANSI
    SQL engines — what makes the family oracle-reproducible."""
    return 2 * seed + 1, 98764321 + seed * 1234567, (1 << 31) - 1


def _minhash_sig_expr(num_hashes: int) -> Column:
    """``sig`` as ONE server-side-parsed expression:
    ``transform(sequence(0, n-1), i -> array_min(transform(_hv, h ->
    ((2*i+1)*h + 98764321 + i*1234567) % (2^31-1))))`` — the
    :func:`_mix_constants` family with (a, b) computed from the seed
    INSIDE the lambda.

    Value-identical to the previous 32-column
    ``F.array(*[array_min(transform(...)) ...])`` build, but the plan is
    one small expression instead of num_hashes large ones: plan
    construction is a single ``F.expr`` parse (the column-per-hash build
    cost O(num_hashes) py4j round-trips), analysis sees a tree ~30x
    smaller, and the projection's generated code stays tiny (measured ≈
    −1.4 s build + −1 s first-run compile on the driver's single-shot
    methodology for the md5/32-hash pipeline; per-row evaluation is the
    same interpreted HOF arithmetic either way).

    Exactness unchanged: i is INT (b < 2^27 can't overflow), h LONG —
    (2*i+1)*h promotes to long, stays < 2^55 for 48-bit base hashes."""
    a, b, p = "(2*i+1)", "(98764321 + i*1234567)", (1 << 31) - 1
    return F.expr(
        f"transform(sequence(0, {num_hashes - 1}), "
        f"i -> array_min(transform(_hv, h -> ({a}*h + {b}) % {p})))"
    )


def jaccard(a: Column | str, b: Column | str) -> Column:
    """General Jaccard over arrays (inputs may contain duplicates)."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def jaccard_distinct(a: Column | str, b: Column | str) -> Column:
    """Jaccard for inputs that are already DISTINCT sets (all shingle
    pipelines apply ``array_distinct`` upstream): |A∪B| = |A|+|B|−|A∩B|,
    so one ``array_intersect`` hash-set build replaces the three the
    general kernel pays per pair (intersect once + union twice — the
    `when` condition re-evaluates it; interpreted expressions have no
    CSE). The intersect size is bound to a lambda variable via the
    single-element transform trick so it too evaluates exactly once.
    Measured ~2.5x on the exact-verify stage of the near-dup pipelines."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    inter = F.size(F.array_intersect(a, b)).cast("double")
    sizes = (F.size(a) + F.size(b)).cast("double")
    return F.element_at(
        F.transform(
            F.array(inter),
            lambda i: F.when(sizes - i > 0, i / (sizes - i)).otherwise(
                F.lit(0.0)
            ),
        ),
        1,
    )


def band_hash_frame(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_bands: int = 8,
    num_hashes: int | None = None,
    band_hash: str = "murmur3",
) -> DataFrame:
    """The slim LSH banding frame ``(id, band, bh)``: each signature
    splits into ``num_bands`` contiguous slices, each hashed to one
    bucket key. This is the candidate-generation key — shared by the
    one-shot pair join (:func:`lsh_candidate_pairs`) and the persisted
    signature index (operators/incremental.py).

    ``band_hash="md5"`` hashes the '|'-joined band slice — byte-identical
    to the SQL oracle's ``md5(array_to_string(list_slice(...), '|'))``.
    """
    rows_per_band = (
        F.lit(num_hashes // num_bands)
        if num_hashes is not None
        else (F.size("sig") / num_bands).cast("int")
    )

    def _bh(b):
        sl = F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band)
        if band_hash == "md5":
            return F.md5(F.concat_ws("|", sl.cast("array<string>")))
        return F.hash(sl.cast("array<int>").cast("string")).cast("string")

    bands = F.transform(
        F.sequence(F.lit(0), F.lit(num_bands - 1)),
        lambda b: F.struct(b.alias("band"), _bh(b).alias("bh")),
    )
    return sigs.select(F.col(id_col), F.explode(bands).alias("b")).select(
        id_col, F.col("b.band").alias("band"), F.col("b.bh").alias("bh")
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_bands: int = 8,
    threshold: float = 0.7,
    num_hashes: int | None = None,
    band_hash: str = "murmur3",
) -> DataFrame:
    """Near-dup pairs (id_a < id_b, jaccard) via banded LSH.

    Each signature splits into ``num_bands`` bands; docs sharing any band
    hash become candidates (self-join keyed on (band_idx, band_hash) —
    the shuffle key is the bucket, never the corpus). Candidates are
    verified with exact shingle Jaccard and filtered at ``threshold``.

    Pass ``num_hashes`` (the signature length) to get the divisibility
    check: ``num_hashes % num_bands != 0`` would silently drop the
    trailing hashes from every band, changing recall.

    ``band_hash="md5"`` hashes each band as md5 over the '|'-joined
    band slice — pairs with ``minhash_signatures(hash_fn="md5")`` for a
    fully ANSI-SQL-reproducible candidate generation (DuckDB oracle).

    ``sigs`` is persisted here: the plan references it from three
    branches (two join sides + shingle fetch) and recomputing the
    n_hashes × n_shingles hash evaluations per branch dominates
    everything else.
    """
    if num_hashes is not None and num_hashes % num_bands != 0:
        raise ValueError(
            f"num_hashes={num_hashes} is not divisible by num_bands="
            f"{num_bands}: {num_hashes % num_bands} trailing hashes would "
            "be silently dropped from every band, changing recall"
        )
    sigs = sigs.persist()
    # candidate generation on a SLIM frame (id + band hash only) — the
    # shingle arrays never enter the self-join shuffle; they are joined
    # back only for the (much smaller) deduped candidate set
    slim = band_hash_frame(sigs, id_col, num_bands, num_hashes, band_hash)

    cand = (
        slim.alias("l")
        .join(
            slim.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bh") == F.col("r.bh"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    sh = sigs.select(F.col(id_col), F.col("shingles"))
    pairs = (
        cand.join(sh.withColumnsRenamed({id_col: "id_a", "shingles": "_sa"}), "id_a")
        .join(sh.withColumnsRenamed({id_col: "id_b", "shingles": "_sb"}), "id_b")
        .select(
            "id_a",
            "id_b",
            # inputs are array_distinct'd upstream: the set-identity
            # kernel does one intersect build instead of three
            jaccard_distinct(F.col("_sa"), F.col("_sb")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return pairs





# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def md5_hash48(word: Column) -> Column:
    """48-bit integer hash from the first 12 hex chars of md5 — slower
    than xxhash64 but reproducible in ANSI SQL
    (``CAST('0x' || substr(md5(w), 1, 12) AS BIGINT)``)."""
    return F.conv(F.substring(F.md5(word), 1, 12), 16, 10).cast("long")


#: SQL text of the supported per-word hash functions, for the
#: server-parsed fast path of :func:`simhash64` (x = the word lambda var)
_SIMHASH_HASH_SQL = {
    "xxhash64": "xxhash64(x)",
    "md5_hash48": "cast(conv(substring(md5(x), 1, 12), 16, 10) as bigint)",
}


def _simhash_expr(col_name: str, hash_sql: str, n_bits: int) -> Column:
    """The whole SimHash signature as ONE server-parsed expression —
    value-identical to the Column-built form below (same word split,
    same per-word hash, same ±1 bit votes folded in array order, same
    sign weights incl. the two's-complement bit 63: ``shiftleft(1L, 63)``
    IS ``-(1<<63)``), but plan construction is a single parse instead of
    ~4·n_bits py4j-built ``when`` terms — measured ≈ −0.6 s on the
    driver's single-shot timing of the 48-bit md5 battery, where the
    Python tree build + analysis dominated the query."""
    words_sql = (
        f"filter(split(lower({col_name}), '[^a-z0-9]+'), x -> x != '')"
    )
    hashes = f"transform({words_sql}, x -> {hash_sql})"
    bitvec = (
        f"transform(sequence(0, {n_bits - 1}), "
        "i -> case when shiftright(h, i) & 1 = 1 then 1 else -1 end)"
    )
    tally = (
        f"aggregate({hashes}, cast(array_repeat(0, {n_bits}) as array<int>), "
        f"(acc, h) -> zip_with(acc, {bitvec}, (a, b) -> a + b))"
    )
    sign_fold = (
        f"aggregate(sequence(0, {n_bits - 1}), cast(0 as bigint), "
        "(acc, i) -> acc + case when element_at(t, i + 1) > 0 "
        "then shiftleft(cast(1 as bigint), i) else cast(0 as bigint) end)"
    )
    return F.expr(
        f"element_at(transform(array({tally}), t -> {sign_fold}), 1)"
    )


def simhash64(text: Column | str, id_hash=F.xxhash64, n_bits: int = 64) -> Column:
    """n_bits-wide SimHash over the word multiset: each word votes ±1 on
    every bit of hash(word); sign of the tally forms the signature bit.
    Near-dup docs differ in few bits (Hamming distance).

    Implemented as one ``aggregate`` fold over the word array with an
    n_bits-int accumulator — O(n_bits·n_words) JVM ops, zero Python.
    Pass ``id_hash=md5_hash48, n_bits=48`` for the SQL-reproducible
    variant (DuckDB oracle parity).

    When ``text`` is a plain column name and ``id_hash`` is one of the
    two stock hashes, the signature is built server-side via
    :func:`_simhash_expr` (one parse, tiny tree); the Column-built path
    below remains for custom hash callables / Column inputs."""
    if isinstance(text, str):
        name = None
        if id_hash is F.xxhash64:
            name = "xxhash64"
        elif id_hash is md5_hash48:
            name = "md5_hash48"
        if name is not None:
            return _simhash_expr(text, _SIMHASH_HASH_SQL[name], n_bits)
    w = words(text)
    zero = F.array(*[F.lit(0)] * n_bits).cast("array<int>")

    def bitvec(h):
        # shiftright takes a plain-int numBits, so unroll the bits in
        # Python — the result is one wide codegen'd array expression
        return F.array(
            *[
                F.when(
                    F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, F.lit(1)
                ).otherwise(F.lit(-1))
                for i in range(n_bits)
            ]
        )

    # hash each word ONCE into a long array, then fold bit votes over the
    # lambda VARIABLE — inlining id_hash(word) into bitvec would evaluate
    # the hash n_bits times per word (no common-subexpression elimination
    # in interpreted HOFs)
    hashes = F.transform(w, lambda x: id_hash(x))
    tally = F.aggregate(
        hashes, zero, lambda acc, h: F.zip_with(acc, bitvec(h), lambda a, b: a + b)
    )

    # fold sign bits into a single BIGINT (bit 63 via two's complement).
    # The n_bits-term sum must reference the tally through a BOUND lambda
    # variable: referencing the aggregate expression n_bits times would
    # re-run the whole word fold per bit (measured: the entire signature
    # n_bits x slower).
    def sign_fold(t):
        out = F.lit(0).cast("long")
        for i in range(n_bits):
            weight = (1 << i) if i < 63 else -(1 << 63)
            out = out + F.when(
                F.element_at(t, i + 1) > 0, F.lit(weight).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        return out

    return F.element_at(F.transform(F.array(tally), sign_fold), 1)


def jaccard_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_df: int = 50,
) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs via an inverted shingle index
    — the deterministic complement to MinHash (no hash family, no
    probabilistic recall): candidates are pairs sharing at least one
    non-stop shingle, verified with exact Jaccard over the full sets.

    Scale design: the self-join is keyed on the shingle (inverted
    index), never all-pairs; shingles with document frequency >
    ``max_df`` are dropped from candidate GENERATION (stop-shingle
    removal — the standard guard against a common phrase exploding one
    reducer into O(df^2) pairs). Verification still uses the complete
    shingle sets, so scores are exact; only pairs whose overlap is
    exclusively stop-shingles can be missed, and at any useful threshold
    such pairs score far below it anyway.
    """
    from . import fan_out

    # fan out the one-file small-corpus scan, persist the bare shingle
    # projection, and only THEN filter: a size() predicate below the
    # persist would be pushed beneath the fan-out Exchange and evaluate
    # the whole interpreted shingle chain a second time on one core
    sh_all = (
        fan_out(df)
        .select(
            F.col(id_col),
            F.array_distinct(word_shingles(text_col, shingle_k)).alias("shingles"),
        )
        .persist()
    )
    return shingle_jaccard_pairs(sh_all, id_col, threshold, max_df)


def shingle_jaccard_pairs(
    sh_all: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.5,
    max_df: int = 50,
) -> DataFrame:
    """Inverted-index exact-Jaccard core over a PERSISTED ``(id,
    shingles)`` frame — the shared engine behind text n-gram near-dup
    (:func:`jaccard_near_dup_pairs`) and token-sequence near-dup
    (``functions.tokens.token_near_dup_pairs``): shingle-keyed candidate
    self-join with the ``max_df`` stop-shingle cap, then one-set-build
    exact verification."""
    from pyspark.sql import Window

    sh = sh_all.filter(F.size("shingles") > 0)
    inv = sh.select(F.col(id_col), F.explode("shingles").alias("_s"))
    # stop-shingle cap via a WINDOW count on the same _s shuffle the
    # bucket aggregation below needs anyway — the previous
    # groupBy-count + join-back shape cost two extra plan branches (the
    # broadcast build recomputed the whole inverted-index subtree) and
    # their AQE stages. WindowExec buffers one key group at a time and
    # spills past the threshold, so a degenerate 10^8-df stop shingle
    # costs disk, never executor memory; the collect_list below then
    # only ever sees groups the cap admitted (bounded agg buffers).
    rare = (
        inv.withColumn(
            "_df", F.count(F.lit(1)).over(Window.partitionBy("_s"))
        )
        .filter(F.col("_df") <= max_df)
        .drop("_df")
    )
    # candidate pairs per inverted-index bucket WITHOUT a self-join:
    # collect each rare shingle's (≤ max_df) id list and expand the i<j
    # combinations in-partition. The rare⋈rare self-join this replaces
    # shipped every bucket row across one more exchange and recomputed
    # the index branch per join side; this shape reuses the window's _s
    # partitioning (zero new exchanges before the pair dedup) and emits
    # the identical pair multiset (ids distinct and sorted per bucket, so
    # i<j ⇒ id_a < id_b: a duplicate input id never pairs with itself).
    combos = F.expr(
        "flatten(transform(_ids, (x, i) -> "
        "transform(slice(_ids, i + 2, size(_ids)), "
        "y -> named_struct('id_a', x, 'id_b', y))))"
    )
    cand = (
        rare.groupBy("_s")
        .agg(F.array_sort(F.collect_set(id_col)).alias("_ids"))
        .filter(F.size("_ids") >= 2)
        .select(F.explode(combos).alias("_p"))
        .select(F.col("_p.id_a").alias("id_a"), F.col("_p.id_b").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = (
        cand.join(sh.withColumnsRenamed({id_col: "id_a", "shingles": "_sa"}), "id_a")
        .join(sh.withColumnsRenamed({id_col: "id_b", "shingles": "_sb"}), "id_b")
        .select("id_a", "id_b", jaccard_distinct(F.col("_sa"), F.col("_sb")).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
    # expose the cached shingle frame (the _mtp_cached convention, same
    # as minhash_signatures) so pipeline callers can unpersist it once
    # the result is materialized; one-shot queries rely on LRU eviction
    pairs._mtp_cached = sh_all
    return pairs
