"""Deduplication operators for web-scale corpora (task brief):
exact (hash-groupBy), MinHash+LSH, SimHash, n-gram Jaccard.

Column-native end to end: shingle hashes are md5-derived 60-bit ints
(``conv(substr(md5(s),1,15),16,10)`` — validated bit-equal to DuckDB's
``CAST('0x'||substr(md5(s),1,15) AS BIGINT)``), min-hashed with k
salted variants, banded for LSH candidate generation.

Scale notes:
- exact/minhash/simhash are one groupBy/self-equi-join on a hash key —
  shuffle on a well-distributed key, no skew.
- ngram_jaccard_pairs is the quadratic verifier; at 100 TB it runs
  ONLY on LSH candidate pairs (minhash_dup_pairs feeds it), never as
  a blind blocked self-join. The blocked form here is the small-scale
  oracle baseline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hope_graph_builder_spark.operators.text import tokens

NUM_HASHES = 16
BANDS = 4  # 4 rows per band


def hash60(s: Column) -> Column:
    """60-bit integer hash from md5 — engine-portable (no xxhash in
    DuckDB, no native md5→int in Spark; this composition is exact in
    both)."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def _hasher(method: str):
    """Shingle-hash family for the MinHash path.

    - 'md5' (default): hash60 — engine-PORTABLE, what every DuckDB
      oracle replays; ~16 md5+base-conversions per shingle make it
      the expensive verification mode (measured ~4 ms/doc/core on the
      bench corpus).
    - 'xx': native xxhash64, measured ~10× cheaper; semantics
      identical up to the hash family (exact duplicates still collide
      in every band), but NOT replayable in DuckDB — production mode,
      verified by pytest equivalence-on-exact-dups rather than by
      oracle. This returns the per-string hash; the MinHash signature
      (minhash_signature) hashes each shingle string ONCE and derives
      its k rows by a fixed-width rehash of that 8-byte base hash
      (xxhash64(h, j)), not by k string-salted hashes per shingle.
      That r06 scheme changed the xx signature family: xx signatures
      persisted before r06 are incompatible with new ones (compare or
      band them only against signatures of the same vintage); the
      md5 mode is unchanged."""
    if method == "md5":
        return hash60
    if method == "xx":
        return lambda s: F.xxhash64(s)
    raise ValueError(f"unknown hash method {method!r} (use 'md5' or 'xx')")


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct n-word shingles of the lowercased text; whole text when
    shorter than n tokens.

    PERF WARNING: the transform lambda references ``toks`` — as a
    single Column expression the tokenizing split re-evaluates once
    PER SHINGLE (O(tokens²) per doc in HOF eval, ×16 in the minhash
    path). Hot paths hoist via ``with_shingles``; this form is kept
    for short strings and oracle-parity call sites."""
    toks = tokens(F.lower(text))
    return _shingles_of(toks, n)


def _shingles_of(toks: Column, n: int = 3) -> Column:
    """Shingles over a token-array expression — collapse-proof linear
    form: n shifted slices folded with zip_with (lambdas touch
    elements only), so ``toks`` is evaluated a CONSTANT n times per
    row no matter how the optimizer rewrites projections (the old
    index-transform lambda re-tokenized the text once PER SHINGLE,
    O(tokens²)·16 in the minhash pass — found via thread dumps)."""
    m = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
    parts = [F.slice(toks, k + 1, m) for k in range(n)]
    sh = parts[0]
    for nxt in parts[1:]:
        sh = F.zip_with(sh, nxt, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.array_distinct(
        F.when(F.size(toks) >= n, sh).otherwise(F.array(F.concat_ws(" ", toks)))
    )


def with_shingles(df: DataFrame, text_col: str = "text", out: str = "_sh",
                  n: int = 3) -> DataFrame:
    """``df`` + an ``out`` shingle-array column, with the lowered token
    array hoisted into its own projection first — the linear form
    (measured: the inline Column form made the 100k-doc minhash pass
    run minutes instead of seconds)."""
    d = df.withColumn("_mh_toks", tokens(F.lower(F.col(text_col))))
    return d.withColumn(out, _shingles_of(F.col("_mh_toks"), n)).drop("_mh_toks")


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: md5(text) → (hash, keeper=min id, cnt). Keeper-join
    back to drop duplicates; one shuffle on the digest."""
    return (
        df.select(F.md5(F.col(text_col)).alias("h"), F.col(id_col))
        .groupBy("h")
        .agg(F.min(id_col).alias("keeper"), F.count("*").alias("cnt"))
    )


def minhash_signature(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = NUM_HASHES,
    hash: str = "md5",
) -> DataFrame:
    """(id, sig: array<long>[k]) — min over shingles of k salted hashes
    of the ``hash`` family (see _hasher: 'md5' = oracle-portable
    verification mode, 'xx' = ~10× cheaper production mode).

    NB: the per-j lambda must be unary — a 2-arg lambda makes Spark's
    ``transform`` pass the array INDEX as the second argument.

    The shingle array is HOISTED into its own column first
    (with_shingles), so the k per-salt transforms iterate a
    materialized per-row array instead of re-tokenizing the text —
    without the hoist the pass is O(tokens²)·k per document.

    r06 'xx' fast path: each shingle string is hashed ONCE
    (xxhash64(s)), hoisted, and the k signature rows derive from the
    8-byte base hash (xxhash64(h, j) — fixed-width rehash, the
    multiply-shift/derived-permutation idiom of production MinHash)
    instead of re-hashing the full shingle text k times with string
    salts. Exact duplicates still produce identical signatures under
    any family (same shingle set → same base hashes → same mins); the
    md5 oracle mode is byte-for-byte untouched. Measured: the
    signature pass drops ~2.4× (see OPTIMIZATION_r06.md)."""
    d = with_shingles(df, text_col, out="_mh_sh")
    sh = F.col("_mh_sh")
    if hash == "xx":
        # hoisted once-per-shingle base hash; CollapseProject keeps the
        # multi-referenced alias un-inlined (same guarantee the shingle
        # hoist itself relies on)
        d = d.withColumn("_mh_h", F.transform(sh, lambda s: F.xxhash64(s)))
        sig = F.array(
            *[
                F.array_min(
                    F.transform(F.col("_mh_h"), lambda hv: F.xxhash64(hv, F.lit(j)))
                )
                for j in range(k)
            ]
        )
        return d.select(F.col(id_col), sig.alias("sig"))
    h = _hasher(hash)

    def minhash_j(j: int):
        salt = F.lit(f":{j}")
        return F.array_min(F.transform(sh, lambda s: h(F.concat(s, salt))))

    sig = F.array(*[minhash_j(j) for j in range(k)])
    return d.select(F.col(id_col), sig.alias("sig"))


def minhash_band_buckets(
    sigs: DataFrame, id_col: str = "doc_id", bands: int = BANDS, k: int = NUM_HASHES
) -> DataFrame:
    """LSH banding: (id, band, bucket) — md5 over each band's row
    values. Docs sharing any (band, bucket) are candidate duplicates."""
    rows = k // bands
    out = []
    for b in range(bands):
        vals = [F.element_at(F.col("sig"), b * rows + r + 1) for r in range(rows)]
        out.append(
            F.struct(F.lit(b).alias("band"),
                     F.md5(F.concat_ws(",", *[v.cast("string") for v in vals])).alias("bucket"))
        )
    return sigs.select(id_col, F.explode(F.array(*out)).alias("bb")).select(
        id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def minhash_dup_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                      hash: str = "md5") -> DataFrame:
    """Candidate near-duplicate pairs (a < b) from LSH buckets —
    self-equi-join on (band, bucket), distinct pairs."""
    bb = minhash_band_buckets(minhash_signature(df, text_col, id_col, hash=hash), id_col)
    a = bb.select(F.col(id_col).alias("a"), "band", "bucket")
    b = bb.select(F.col(id_col).alias("b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"], "inner")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def minhash_star_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                       hash: str = "md5") -> DataFrame:
    """Connectivity-preserving LINEAR candidate edges (a < b): per LSH
    (band, bucket), connect every member to the bucket's MIN id (a
    star) instead of emitting the bucket clique. A bucket-star has
    exactly the same reachability as the bucket-clique, so connected
    components over star edges EQUAL components over minhash_dup_pairs
    — but the edge count is linear in bucket size where the self-join
    is quadratic. This is the giant-cluster valve: a corpus where one
    boilerplate page repeats 10⁵ times puts 10⁵ docs in one bucket —
    the clique is 5·10⁹ pre-distinct join rows per band (measured JVM
    OOM at 10² copies × 5·10³ clusters on 12 GB executors), the star
    is 10⁵. Use minhash_dup_pairs when the PAIR LIST itself is the
    product (exact-Jaccard verification); use this for clustering."""
    from pyspark.sql.window import Window as W

    bb = minhash_band_buckets(minhash_signature(df, text_col, id_col, hash=hash), id_col)
    # per-bucket hub via an unordered window min instead of
    # groupBy → self-join: ONE evaluation of the MinHash signature
    # subtree (the operator's dominant cost) and ONE (band, bucket)
    # exchange instead of two of each (r06). Sort-based, no per-key
    # state — the 10⁵-member boilerplate bucket stays safe.
    hub = F.min(id_col).over(W.partitionBy("band", "bucket"))
    return (
        bb.withColumn("a", hub)
        .filter(F.col(id_col) > F.col("a"))
        .select("a", F.col(id_col).alias("b"))
        .distinct()
    )


def dedup_clusters(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    hash: str = "md5",
) -> DataFrame:
    """The standard web-corpus dedup step the pair list feeds:
    near-duplicate CLUSTERS. MinHash+LSH candidate STAR edges (per
    (band, bucket) hub — component-equivalent to the clique pairs,
    linear in bucket size; see minhash_star_pairs) → weak connected
    components over the pair graph → every document labeled with its
    cluster (min id in the component; singletons label themselves)
    and a ``keep`` flag for the canonical representative. Downstream,
    `df.join(clusters, id).filter("keep")` is the dedup.

    100 TB shape: the pair graph is SPARSE (LSH-bucketed, not
    all-pairs) and giant-duplicate-cluster-proof (star edges bound
    the per-bucket edge count linearly), components run the iterative
    min-label propagation (operators/graph.py — localCheckpoint
    lineage cuts, fail-loud; star graphs converge in 2 rounds), and
    the final label attach is one broadcast-or-shuffle left join;
    non-candidate documents never enter the iteration."""
    from hope_graph_builder_spark.operators.graph import connected_components

    pairs = minhash_star_pairs(df, text_col, id_col, hash=hash)
    comp = connected_components(
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    )
    return (
        df.select(id_col)
        .join(comp, F.col(id_col) == F.col("id"), "left")
        .select(
            id_col,
            F.coalesce(F.col("component"), F.col(id_col)).alias("cluster_id"),
        )
        .withColumn("keep", F.col(id_col) == F.col("cluster_id"))
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_chars: int = 0,
    sep: str = "\n",
    key_method: str = "raw",
) -> DataFrame:
    """C4-style exact LINE-level dedup across the whole corpus: every
    line (``sep``-delimited span) that occurs more than once anywhere
    keeps only its first occurrence — ordered by (doc id, position) —
    and every other occurrence is dropped from its document. This is
    the classic boilerplate-removal pass (nav bars, cookie banners,
    license footers repeat verbatim across millions of pages while the
    surrounding documents are NOT near-duplicates, so doc-level
    MinHash never catches them). Lines shorter than ``min_chars`` are
    exempt (always kept): blank lines and one-word connectives are not
    boilerplate evidence.

    Returns one row per input document: ``(id, clean_text, n_lines,
    n_removed)`` with ``clean_text`` the kept lines re-joined by
    ``sep`` in original order (empty string when every line was
    removed).

    100 TB shape: posexplode → ONE groupBy(line) whose min(struct(id,
    pos)) aggregate partially combines map-side — a boilerplate line
    occurring 10⁸ times collapses to one row per input partition
    before the shuffle, so the hot-key skew that would break a
    window-rank formulation never reaches the exchange. The keeper
    attach is a plain equi-join on the line (AQE skew-split handles
    the residual join skew), and reassembly is one groupBy(id) with
    array_sort(collect_list(struct(pos, line))) — no window, no
    driver round-trip.

    ``key_method='xx'`` groups and joins on ``xxhash64(line)`` instead
    of the raw line — the keeper exchange and join carry 8 bytes per
    key instead of the full line text (the dominant shuffle payload on
    real pages). Semantics identical up to 64-bit hash collisions (a
    colliding pair would dedup two DIFFERENT lines; at 10¹⁰ distinct
    lines the expected collision count is ~3 — the standard production
    trade, same convention as the MinHash 'xx' mode). 'raw' stays the
    default and is what the DuckDB oracle replays."""
    if key_method not in ("raw", "xx"):
        raise ValueError(f"unknown key_method {key_method!r} (use 'raw' or 'xx')")
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep, -1)).alias("pos", "line"),
    )
    key = F.xxhash64("line") if key_method == "xx" else F.col("line")
    keyed = lines.select(id_col, "pos", "line", key.alias("_lk"))
    dedupable = F.length(F.col("line")) >= F.lit(min_chars)
    # keeper via an unordered window min over the line key instead of
    # groupBy → join-back: ONE evaluation of the corpus line explode
    # and ONE _lk exchange instead of two of each (r06). min(when(...))
    # ignores the exempt short lines exactly as the filtered groupBy
    # did (a key whose rows are all exempt yields NULL → kept).
    # Sort-based window, no per-key state — the 10⁸-occurrence
    # boilerplate line cannot OOM it.
    from pyspark.sql.window import Window as W

    keeper = F.min(
        F.when(dedupable, F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p")))
    ).over(W.partitionBy("_lk"))
    kept = (
        keyed.withColumn("k", keeper)
        .filter(
            F.col("k").isNull()  # exempt short line: never in keepers
            | ((F.col("k.d") == F.col(id_col)) & (F.col("k.p") == F.col("pos")))
        )
        .select(id_col, "pos", "line")
    )
    reassembled = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s.line,
            ),
            sep,
        ).alias("clean_text"),
        F.count("*").alias("_n_kept"),
    )
    return (
        df.select(F.col(id_col), F.size(F.split(F.col(text_col), sep, -1)).alias("n_lines"))
        .join(reassembled, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.col("n_lines"),
            (F.col("n_lines") - F.coalesce(F.col("_n_kept"), F.lit(0))).alias("n_removed"),
        )
    )


def simhash_from(thash: Column, thash2: Column | None, bits: int = 64) -> Column:
    """SimHash over PRE-HOISTED token-hash array columns (thash =
    hash60(token) per distinct token; thash2 = the '#b'-salted array,
    required when bits > 60). The 64 per-bit majority filters iterate
    materialized arrays — the Column form re-tokenizes and re-hashes
    every token once PER BIT (64× md5 over the doc, the measured hot
    cost of the simhash pair index at corpus scale)."""
    if bits > 60 and thash2 is None:
        raise ValueError("bits > 60 needs the '#b'-salted hash column")
    ntok = F.size(thash)

    def bit_term(b: int):
        src, shift = (thash, b) if b < 60 else (thash2, b - 60)
        cnt = F.size(
            F.filter(src, lambda h: F.shiftright(h, shift).bitwiseAND(F.lit(1)) == F.lit(1))
        )
        return F.when(
            cnt * 2 >= ntok, F.shiftleft(F.lit(1).cast("long"), b)
        ).otherwise(F.lit(0).cast("long"))

    acc = F.lit(0).cast("long")
    for b in range(bits):
        acc = acc.bitwiseOR(bit_term(b))
    return acc


def with_token_hashes(df: DataFrame, text_col: str = "text",
                      salted: bool = True) -> DataFrame:
    """``df`` + hoisted distinct-token hash arrays ``_th`` (and
    ``_th2`` when ``salted``) — the linear feed for simhash_from."""
    d = df.withColumn("_sh_toks", F.array_distinct(tokens(F.lower(F.col(text_col)))))
    d = d.withColumn("_th", F.transform(F.col("_sh_toks"), lambda t: hash60(t)))
    if salted:
        d = d.withColumn(
            "_th2",
            F.transform(F.col("_sh_toks"), lambda t: hash60(F.concat(t, F.lit("#b")))),
        )
    return d.drop("_sh_toks")


def simhash(text: Column, bits: int = 64) -> Column:
    """SimHash over token hashes: bit b set iff the majority of tokens
    have bit b set. Native bit arithmetic over one token-hash array
    (tokens hashed once per 60-bit hash word).

    Default 64-bit: 16-bit SimHash saturates at web scale (only 65k
    distinct values across a 100 TB corpus). Bits 0-59 come from
    hash60(token); bits 60-63 from hash60(token || '#b') — hash60 is a
    60-bit value, so its high bits are constant-zero and unusable.
    Bit 63 is set via Java's wrapping shiftleft and OR-accumulated
    (never summed), so the result is a proper signed 64-bit long."""
    thash = F.transform(F.array_distinct(tokens(F.lower(text))), lambda t: hash60(t))
    thash2 = None
    if bits > 60:
        thash2 = F.transform(
            F.array_distinct(tokens(F.lower(text))),
            lambda t: hash60(F.concat(t, F.lit("#b"))),
        )
    ntok = F.size(thash)

    def bit_term(b: int):
        src, shift = (thash, b) if b < 60 else (thash2, b - 60)
        cnt = F.size(
            F.filter(src, lambda h: F.shiftright(h, shift).bitwiseAND(F.lit(1)) == F.lit(1))
        )
        return F.when(
            cnt * 2 >= ntok, F.shiftleft(F.lit(1).cast("long"), b)
        ).otherwise(F.lit(0).cast("long"))

    acc = F.lit(0).cast("long")
    for b in range(bits):
        acc = acc.bitwiseOR(bit_term(b))
    return acc


# 63-bit simhash split into 4 disjoint bit bands. Pigeonhole: any pair
# within Hamming distance 3 has at least one band with ZERO differing
# bits, so banding is a COMPLETE index (exact recall, no
# approximation) for max_hamming <= 3.
SIMHASH_BANDS = ((0, 16), (16, 16), (32, 16), (48, 15))


def simhash_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-duplicate PAIRS (a < b, hamming ≤ max_hamming) —
    the Hamming-ball twin of minhash_dup_pairs: 63-bit simhash (bit 63
    unused so the value is positive and engine-portable), candidate
    pairs from equi-joins on 4 disjoint bit bands, exact popcount
    verify on candidates only.

    For ``max_hamming ≤ 3`` the result is EXACT (pigeonhole over the
    4 bands — every qualifying pair collides in some band); larger
    radii lose the guarantee and the operator refuses rather than
    silently under-recalling. Plan shape: one narrow simhash scan,
    4 self-equi-joins on 16-bit keys (uniform hash keys, no skew),
    pair-dedup BEFORE the popcount verify — linear in corpus size,
    quadratic only within identical-band buckets."""
    if max_hamming > len(SIMHASH_BANDS) - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the exact-recall bound "
            f"{len(SIMHASH_BANDS) - 1} of the {len(SIMHASH_BANDS)}-band index"
        )
    sh = with_token_hashes(df, text_col).select(
        F.col(id_col).alias("_id"),
        simhash_from(F.col("_th"), F.col("_th2"), bits=63).alias("_sh"),
    )
    bands = []
    for t, (off, width) in enumerate(SIMHASH_BANDS):
        key = F.shiftright(F.col("_sh"), off).bitwiseAND(F.lit((1 << width) - 1))
        bands.append(sh.select("_id", "_sh", F.lit(t).alias("_t"), key.alias("_k")))
    bb = bands[0]
    for b in bands[1:]:
        bb = bb.unionByName(b)
    x = bb.select(F.col("_id").alias("a"), F.col("_sh").alias("sa"), "_t", "_k")
    y = bb.select(F.col("_id").alias("b"), F.col("_sh").alias("sb"), "_t", "_k")
    cand = (
        x.join(y, ["_t", "_k"], "inner")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "sa", "sb")
        .distinct()
    )
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return cand.filter(ham <= max_hamming).select(
        "a", "b", ham.cast("int").alias("hamming")
    )


def lsh_jaccard_verify(
    df: DataFrame,
    threshold: float = 0.4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The composed scale-path dedup pipeline: MinHash+LSH candidate
    pairs → join each side back to its shingle set → exact n-gram
    Jaccard ≥ threshold. Work is linear in corpus size for the LSH
    stage and quadratic only WITHIN buckets; the exact verifier runs
    on candidate pairs only — never a blocked/blind cross product
    (the 100 TB replacement for ngram_jaccard_pairs' lang blocking)."""
    base = with_shingles(df, text_col, out="sh").select(F.col(id_col), "sh")
    cands = minhash_dup_pairs(df, text_col, id_col)
    sa = base.select(F.col(id_col).alias("a"), F.col("sh").alias("sha"))
    sb = base.select(F.col(id_col).alias("b"), F.col("sh").alias("shb"))
    return (
        cands.join(sa, "a").join(sb, "b")
        .withColumn("inter", F.size(F.array_intersect("sha", "shb")))
        .withColumn(
            "jaccard",
            F.col("inter")
            / (F.size("sha") + F.size("shb") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.4,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str = "lang",
) -> DataFrame:
    """Blocked n-gram Jaccard: pairs within a block with
    |A∩B| / (|A|+|B|−|A∩B|) ≥ threshold. Baseline verifier — at scale
    run it on LSH candidates instead of blocked cross products."""
    base = with_shingles(df, text_col, out="sh").select(
        F.col(id_col), F.col(block_col).alias("_blk"), F.col("sh")
    )
    a = base.select(F.col(id_col).alias("a"), "_blk", F.col("sh").alias("sha"))
    b = base.select(F.col(id_col).alias("b"), "_blk", F.col("sh").alias("shb"))
    j = (
        a.join(b, "_blk", "inner")
        .filter(F.col("a") < F.col("b"))
        .withColumn("inter", F.size(F.array_intersect("sha", "shb")))
        .withColumn(
            "jaccard",
            F.col("inter")
            / (F.size("sha") + F.size("shb") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return j.select("a", "b", "jaccard")


def _dup_flagged(
    df: DataFrame,
    k: int,
    stride: int,
    text_col: str,
    id_col: str,
    hash_method: str,
):
    """Shared front half of the ExactSubstr family: ``wins`` = one row
    per sampled k-char window ``(id, pos, h)``, and ``flagged`` = the
    ``(id, pos)`` subset whose window content occurs MORE THAN ONCE
    corpus-wide. Used by the audit (dup_substring_spans) and the
    removal (strip_dup_spans).

    r06 shape: ONE evaluation of the explode+hash subtree and ONE
    h-keyed exchange — a corpus-count window (count(*) over
    partitionBy(h), sort-based; a hot hash's whole peer group lands in
    one task and is buffered, spillably — see dup_substring_spans)
    replaces groupBy(h)→filter→re-evaluate wins→
    equi-join, which evaluated the dominant explode+hash pass twice
    and shuffled it twice (measured A/B at m50/16 cores: 6.2-6.7 s →
    4.3-4.4 s for the flagged subtree, identical output). The old
    join carried a `shuffle_hash` pin against AQE driver-broadcasts
    of the billion-row dup-hash set; the window form removes that
    join — and the hazard — outright."""
    if k < 1 or stride < 1:
        raise ValueError(f"k and stride must be >= 1 (got k={k}, stride={stride})")
    from pyspark.sql.window import Window as W

    hasher = _hasher(hash_method)
    s = F.col(text_col)
    positions = F.when(
        F.length(s) >= k, F.sequence(F.lit(1), F.length(s) - (k - 1), F.lit(stride))
    ).otherwise(F.array().cast("array<int>"))
    wins = df.select(
        F.col(id_col),
        F.posexplode_outer(
            F.transform(positions, lambda i: hasher(F.substring(s, i, k)))
        ).alias("_i", "h"),
    ).select(
        id_col, (F.col("_i") * stride + 1).alias("pos"), "h"
    )
    flagged = (
        wins.filter(F.col("h").isNotNull())
        .withColumn("_c", F.count("*").over(W.partitionBy("h")))
        .filter(F.col("_c") > 1)
        .select(id_col, "pos")
    )
    return wins, flagged


def dup_substring_spans(
    df: DataFrame,
    k: int = 40,
    stride: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_method: str = "md5",
) -> DataFrame:
    """EXACT-substring duplication audit (the ExactSubstr family from
    the deduplicating-training-data line of work): every ``k``-char
    window of every document is hashed; a window whose content occurs
    MORE THAN ONCE anywhere in the corpus is duplicated text — the
    licence block, quoted boilerplate or copy-pasted passage that
    doc-level MinHash never sees because the surrounding documents are
    genuinely different. Overlapping/adjacent duplicated windows merge
    into maximal spans.

    One row per input document: ``(id, n_windows, n_dup_windows,
    n_spans, dup_chars)`` — ``dup_chars`` is the total length of the
    merged duplicated spans, so ``dup_chars / length`` is the
    duplication fraction a curation pass gates on. Documents shorter
    than ``k`` have 0 windows and are never flagged.

    ``stride`` > 1 samples every stride-th window: detection of any
    duplicated run of length ≥ k + stride - 1 is still guaranteed
    (some window inside the run aligns with the sample grid), at
    1/stride the explode cost — the scale knob; stride=1 is the exact
    audit the oracle replays. ``hash_method`` follows the MinHash
    convention: 'md5' = engine-portable oracle mode, 'xx' = native
    xxhash64 at ~10× less CPU (identical spans up to 64-bit hash
    collisions; production mode, pytest-equivalence-verified).

    100 TB shape: this operator's cost is inherent to exact-substring
    dedup — one row per sampled position. The positions are flagged
    by a corpus-wide ``count(*)`` window over ``partitionBy(h)``
    (_dup_flagged): one h-keyed exchange of every (id, pos, h) row,
    with no map-side combine and no re-attach join. Each hash's rows
    land in one task, which sorts them and buffers the whole peer
    group to count it (spillable, so no OOM): a boilerplate window
    repeated 10⁸ times is one straggler task sorting and spilling
    10⁸ rows. Span merging is then a per-document window (lag →
    island cumsum → two groupBys) that shuffles only the FLAGGED
    positions — on clean corpora a small fraction of the input."""
    from pyspark.sql.window import Window as W

    _, flagged = _dup_flagged(df, k, stride, text_col, id_col, hash_method)
    w = W.partitionBy(id_col).orderBy("pos")
    # n_dup_windows rides the island rollup (sum of per-island window
    # counts == flagged rows per doc — flagged (id,pos) rows are unique
    # by construction), so the flagged subtree — explode + hash + flag
    # join — is evaluated ONCE per audit instead of twice (r06)
    islands = (
        flagged.withColumn(
            "_new", (F.col("pos") > F.lag("pos").over(w) + k).cast("int")
        )
        .withColumn("_isl", F.sum(F.coalesce("_new", F.lit(0))).over(w))
        .groupBy(id_col, "_isl")
        .agg(
            (F.max("pos") - F.min("pos") + k).alias("_span_chars"),
            F.count("*").alias("_cw"),
        )
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_spans"),
            F.sum("_span_chars").alias("dup_chars"),
            F.sum("_cw").alias("n_dup_windows"),
        )
    )
    # n_windows is pure length arithmetic — size(sequence(1, L-k+1,
    # stride)) = floor((L-k)/stride)+1 — so the per-doc count needs NO
    # explode+hash pass at all. This was the third full evaluation of
    # the window-hash subtree per audit (r06: the explode+hash pass is
    # the operator's dominant cost; now it runs twice — count + flag
    # join — instead of three times). Sub-k and null-text docs fall
    # through to 0 exactly as the posexplode_outer null row did.
    s = F.col(text_col)
    per_doc = df.select(
        F.col(id_col),
        F.when(
            F.length(s) >= k,
            (F.floor((F.length(s) - F.lit(k)) / F.lit(stride)) + 1),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_windows"),
    )
    return (
        per_doc.join(islands, id_col, "left")
        .select(
            id_col,
            "n_windows",
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("dup_chars", F.lit(0)).alias("dup_chars"),
        )
    )


def strip_dup_spans(
    df: DataFrame,
    k: int = 40,
    stride: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_method: str = "md5",
) -> DataFrame:
    """The REMOVAL half of the ExactSubstr family: cut every maximal
    duplicated span (the same islands dup_substring_spans audits) out
    of every document and return the corpus with ``text_col`` REPLACED
    by the cleaned text, plus ``n_removed_spans`` / ``removed_chars``.
    All occurrences of duplicated text are removed (the licence block
    disappears from every document carrying it) — the
    deduplicating-training-data policy; a doc that is entirely
    duplicated text comes back as the empty string, and a
    duplicate-free doc passes through byte-identical. With
    ``stride`` > 1 the spans are the sampled-grid approximation the
    audit documents (runs ≥ k + stride - 1 still guaranteed caught).

    Scale shape: the audit's stages (the count-over-partitionBy(h)
    flag window, per-doc island window over FLAGGED positions only) plus one per-doc span list (collect_list over
    n_spans rows — bounded by doc length / k) and one id-equi join
    back to the corpus. The surgery itself is a native ``aggregate``
    fold over the span array (substring concatenation — no UDF, no
    explode of the text), so the rebuild is a pure map stage on top of
    the join."""
    from pyspark.sql.window import Window as W

    _, flagged = _dup_flagged(df, k, stride, text_col, id_col, hash_method)
    w = W.partitionBy(id_col).orderBy("pos")
    spans = (
        flagged.withColumn(
            "_new", (F.col("pos") > F.lag("pos").over(w) + k).cast("int")
        )
        .withColumn("_isl", F.sum(F.coalesce("_new", F.lit(0))).over(w))
        .groupBy(id_col, "_isl")
        .agg(F.min("pos").alias("s"), (F.max("pos") + (k - 1)).alias("e"))
    )
    doc_spans = spans.groupBy(id_col).agg(
        F.sort_array(F.collect_list(F.struct("s", "e"))).alias("_spans")
    )
    txt = F.col(text_col)
    sp = F.coalesce(F.col("_spans"), F.array().cast("array<struct<s:int,e:int>>"))
    # fold state: (acc = clean prefix, prev = first char not yet
    # copied); islands are strictly disjoint with a >= 1 char gap, so
    # every segment length is >= 0 and substring() of a non-positive
    # length is ''.
    cut = F.aggregate(
        sp,
        F.struct(F.lit("").alias("acc"), F.lit(1).alias("prev")),
        lambda a, x: F.struct(
            F.concat(a["acc"], F.substring(txt, a["prev"], x["s"] - a["prev"])).alias(
                "acc"
            ),
            (x["e"] + F.lit(1)).alias("prev"),
        ),
        lambda a: F.concat(
            a["acc"], F.substring(txt, a["prev"], F.length(txt) - a["prev"] + 1)
        ),
    )
    return (
        df.join(doc_spans, id_col, "left")
        .withColumn("_clean", cut)
        .select(
            *[c for c in df.columns if c != text_col],
            F.col("_clean").alias(text_col),
            F.coalesce(F.size("_spans"), F.lit(0)).cast("int").alias(
                "n_removed_spans"
            ),
            (F.length(txt) - F.length("_clean")).cast("long").alias("removed_chars"),
        )
    )


def delta_exact_dedup(
    batch: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    index_unique: bool = True,
) -> DataFrame:
    """Incremental (continuous-crawl) exact dedup: flag every document
    of a NEW batch against a persisted digest ``index`` of everything
    already ingested, and against the batch itself. Output = the batch
    plus ``dup_of_index`` (text digest already in the index),
    ``dup_in_batch`` (an earlier batch doc — lower id — has the same
    digest) and ``keep`` = neither; the updated index is
    ``index ∪ md5 digests of the kept rows`` (one distinct-union the
    caller persists, e.g. with exact_dedup_groups' digest column).

    ``index`` is one digest column ``h``; pass ``index_unique=False``
    to defensively dedupe it first (a duplicated index digest would
    otherwise FAN OUT matching batch rows through the join — the
    index this module maintains is grouped, so the default trusts it).

    Scale shape: one groupBy(digest) over the batch (map-side combine;
    batch ≪ corpus) + one digest equi-join batch×index. The index side
    is billions of rows at corpus scale but the join key is the
    digest itself — perfectly distributed, AQE-safe, and nothing is
    re-scanned from the historical corpus: this is the O(batch + index
    lookup) path that makes rolling ingestion linear instead of
    re-deduping the full corpus every crawl."""
    # NULL text gets a sentinel digest (not hex, so it can never
    # collide with a real md5): NULL-text rows dedupe among themselves
    # and are PRESERVED in the output — a plain md5(NULL)=NULL key
    # would silently drop them at the keeper join.
    d = batch.withColumn(
        "_h",
        F.coalesce(F.md5(F.col(text_col)), F.lit("__null_text__")),
    )
    idx = index.select(F.col("h").alias("_h"))
    if not index_unique:
        idx = idx.distinct()
    idx = idx.withColumn("_seen", F.lit(1))
    keepers = d.groupBy("_h").agg(F.min(id_col).alias("_keeper"))
    return (
        d.join(idx, "_h", "left")
        .join(keepers, "_h")
        .select(
            *batch.columns,
            F.col("_seen").isNotNull().alias("dup_of_index"),
            (F.col(id_col) != F.col("_keeper")).alias("dup_in_batch"),
            (F.col("_seen").isNull() & (F.col(id_col) == F.col("_keeper"))).alias(
                "keep"
            ),
        )
    )


def lsh_params(threshold: float, k: int = NUM_HASHES) -> tuple[int, int]:
    """Pick the (bands, rows) split of a ``k``-hash MinHash signature
    whose S-curve ``P(candidate) = 1 − (1 − s^rows)^bands`` best
    matches a Jaccard ``threshold``: among the divisors of ``k``,
    minimize the integrated error (false-positive area below the
    threshold + false-negative area above it, the standard MMDS
    criterion, evaluated on a fixed similarity grid — deterministic,
    no RNG). Returns ``(bands, rows)`` with ``bands·rows == k``;
    feed ``bands`` to minhash_band_buckets. Driver-side arithmetic on
    two ints — never touches data."""
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    grid = [i / 200.0 for i in range(1, 200)]
    best = None
    for rows in range(1, k + 1):
        if k % rows:
            continue
        bands = k // rows
        err = sum(
            (1.0 - (1.0 - s**rows) ** bands) if s < threshold
            else (1.0 - s**rows) ** bands
            for s in grid
        )
        cand = (err, -rows)  # tie → more rows (fewer false positives)
        if best is None or cand < best:
            best, best_rows = cand, rows
    return k // best_rows, best_rows
