"""Noise-exposure aggregation semantics (reference operators A2–A7).

Column-native re-expression of
`/root/reference/src/noise_graph_join/utils.py:112-275`. All row-wise
`df.apply(..., axis=1)` lambdas become Column expressions; the only
grouped aggregations are ordinary groupBy/pivot (map-side partials,
one shuffle each).

Layer model (synthetic graft of the reference's 13 layers,
`noise_layers.csv`): providers {hel, syke} × sources
{road, train, tram, metro} → 8 layers named ``{provider}_{source}``.
Priority: hel before syke (reference utils.py:168-171); interpolated
samples flip to syke-first (prefer_syke, utils.py:174-178 /
noise_graph_join.py:108).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SOURCES = ["road", "train", "tram", "metro"]
PROVIDERS = ["hel", "syke"]
LAYER_NAMES = [f"{p}_{s}" for p in PROVIDERS for s in SOURCES]


def _first_finite(cols: list[str]) -> Column:
    return F.coalesce(*[F.col(c).cast("double") for c in cols])


def aggregate_noise_values(samples: DataFrame, prefer_syke: bool = False) -> DataFrame:
    """Per-sampling-point source aggregation (utils.py:165-232):

    1. per-source dB = first non-null layer value in priority order (A3)
    2. n_max = max over sources (A4, null-safe greatest)
    3. n_max_sources = names of sources attaining n_max, in the fixed
       source order (A5)
    4. n_max_adj = n_max + count(sources) when >1 co-max sources (A6)

    NaN→NULL normalization is assumed done at ingest (we never produce
    NaN), so SQL coalesce == the reference's first-finite.
    """
    providers = PROVIDERS[::-1] if prefer_syke else PROVIDERS
    df = samples
    for s in SOURCES:
        df = df.withColumn(s, _first_finite([f"{p}_{s}" for p in providers]))
    df = df.withColumn("rail", F.greatest("train", "tram", "metro"))
    df = df.withColumn("n_max", F.greatest(*SOURCES))
    pairs = F.array(*[F.struct(F.lit(s).alias("name"), F.col(s).alias("val")) for s in SOURCES])
    df = df.withColumn(
        "n_max_sources",
        F.when(
            F.col("n_max").isNull(), F.array().cast("array<string>")
        ).otherwise(
            F.transform(
                F.filter(pairs, lambda p: p["val"] == F.col("n_max")), lambda p: p["name"]
            )
        ),
    )
    # bitmask twin of n_max_sources (bit i ⇔ SOURCES[i] attains n_max):
    # all-numeric, so the hot path caches/shuffles ints instead of
    # string arrays (array-column cache build measured ~10× slower)
    mask = F.lit(0)
    for i, s in enumerate(SOURCES):
        mask = mask + F.when(F.col(s) == F.col("n_max"), F.lit(1 << i)).otherwise(F.lit(0))
    df = df.withColumn("n_max_mask", F.coalesce(mask, F.lit(0)))
    # n_max_adj counts co-max sources via the mask's popcount instead of
    # size(n_max_sources): identical by construction (bit i set ⇔ source
    # i in the list; n_max null ⇒ mask 0 ⇔ empty list), but it frees
    # column pruning to ELIMINATE the per-row string-array build when a
    # consumer (the flagship slim tail) never reads n_max_sources (r06,
    # guide §2.3 — don't compute what you throw away)
    cnt = F.bit_count("n_max_mask")
    df = df.withColumn(
        "n_max_adj",
        F.when(cnt > 1, F.col("n_max") + cnt)
        .when(cnt == 1, F.col("n_max"))
        .otherwise(F.lit(None).cast("double")),
    )
    return df


def quantile_nearest_agg(values: Column, n: int, q: float = 0.7) -> Column:
    """Exact nearest-rank quantile over a collected list of exactly
    ``n`` values — reproduces pandas ``quantile(q, 'nearest')`` used by
    the kNN interpolation (noise_graph_join.py:93): sorted[round(q*(n-1))].
    Native sort_array + element_at; NOT percentile_approx."""
    idx = int(q * (n - 1) + 0.5) + 1  # 1-based
    return F.element_at(F.sort_array(values), idx)


def interpolate_missing(
    ring_pivot: DataFrame, ring_count: int = 20, key: str = "xy_id", q: float = 0.7
) -> DataFrame:
    """Per missing point: fill unmatched ring points' layer values with
    0, take the exact 0.7-nearest quantile per layer over the ring's
    ``ring_count`` samples, then 0 → NULL (noise_graph_join.py:88-98).

    ``ring_pivot`` = one row per ring point (key, layer columns), i.e.
    the flagship's left cell-join pivot over all ring points, so every
    key has exactly ring_count rows (unmatched → nulls).
    """
    aggs = [
        quantile_nearest_agg(
            F.collect_list(F.coalesce(F.col(c).cast("double"), F.lit(0.0))), ring_count, q
        ).alias(c)
        for c in LAYER_NAMES
    ]
    out = ring_pivot.groupBy(key).agg(*aggs)
    for c in LAYER_NAMES:
        out = out.withColumn(c, F.when(F.col(c) != 0.0, F.col(c)))
    return out


def edge_db_rows(final_samples: DataFrame, edge_id: str = "edge_id") -> DataFrame:
    """Flat dB-exposure rows (edge_id, db, exposure):
    value_counts of n_max_adj per edge (nulls excluded, utils.py:242)
    × sample_len, rounded to 5 dp (utils.py:250)."""
    return (
        final_samples.filter(F.col("n_max_adj").isNotNull())
        .groupBy(edge_id, "n_max_adj")
        .agg(F.count("*").alias("cnt"), F.min("sample_len").alias("sample_len"))
        .select(
            edge_id,
            F.col("n_max_adj").cast("int").alias("db"),
            F.bround(F.col("cnt") * F.col("sample_len"), 5).alias("exposure"),
        )
    )


def edge_source_rows(final_samples: DataFrame, edge_id: str = "edge_id") -> DataFrame:
    """Flat source-count rows (edge_id, src, cnt) — the Counter over
    co-max source sets (utils.py:264-271). Implemented over the
    n_max_mask bitmask as ONE generate (explode of the set bits):
    unlike the previous 4-way filter-union, Generate PRESERVES the
    child's partitioning, so on an edge_id-partitioned input the
    groupBy needs no exchange (the union reset partitioning and forced
    one)."""
    entries = F.filter(
        F.array(
            *[
                F.when(
                    F.shiftright(F.col("n_max_mask"), i).bitwiseAND(F.lit(1)) == 1,
                    F.lit(s),
                )
                for i, s in enumerate(SOURCES)
            ]
        ),
        lambda e: e.isNotNull(),
    )
    return (
        final_samples.select(edge_id, F.explode(entries).alias("src"))
        .groupBy(edge_id, "src")
        .agg(F.count("*").alias("cnt"))
    )


def aggregate_noises_by_edge(
    final_samples: DataFrame,
    edge_id: str = "edge_id",
    edges_all: DataFrame | None = None,
    extent_flag: str | None = None,
) -> DataFrame:
    """Edge-level noise attributes (utils.py:234-275):

    - noises:        map<int,double> dB → round(count × sample_len, 5)
    - noise_source:  most frequent source over all samples' co-max
                     source lists ('' when none)
    - noise_sources: map<string,int> source → sample count

    Three-valued semantics (J3, reference noise_graph_update.py:29-48
    + igraph.py:62): when ``extent_flag`` names a boolean column on
    ``edges_all``, edges OUTSIDE the noise-data extent get
    noises=NULL / noise_source=NULL / noise_sources=NULL (nodata);
    edges inside with no matches keep the {} / '' / {} defaults.
    Without the flag every unmatched edge coalesces to {} (two-valued,
    the r01 behavior).

    Tie-break deviation (documented): the reference's
    ``statistics.mode`` picks the first-encountered value on ties
    (row-order dependent, utils.py:260); we pin a deterministic rule —
    highest count, then fixed source order road>train>tram>metro.

    Input: one row per (edge sample), with n_max_adj, n_max_mask,
    sample_len (sample_len is constant per edge: length / n).

    Two-level grouped pass (r06): the samples of one edge overwhelmingly
    share one (adj, mask) value (measured: 515k distinct
    (edge, adj, mask) triples over 6.4M samples ≈ 1.03 per edge), so a
    cheap whole-stage-codegen count by (edge, adj, mask) runs first and
    the object-hash collect_list + per-edge array expressions — the
    measured CPU hot spot of the old single-pass form (~25 of 82
    executor-seconds) — operate on ~1-entry weighted arrays instead of
    ~13-entry raw ones. The counts ride the arrays as weights; every
    output value and map entry order is bit-identical (oracle-pinned).
    The extra exchange carries the pre-aggregated triples (≤ one row
    per distinct (edge, adj, mask)) — strictly fewer bytes than the old
    partial collect buffers it replaces.
    """
    pre = final_samples.groupBy(edge_id, "n_max_adj", "n_max_mask").agg(
        F.count(F.lit(1)).cast("int").alias("_c"),
        F.min("sample_len").alias("_psl"),
    )
    rows_col = F.collect_list(
        F.struct(
            F.col("n_max_adj").alias("adj"),
            F.col("n_max_mask").alias("mask"),
            F.col("_c").alias("c"),
        )
    )
    g = pre.groupBy(edge_id).agg(
        rows_col.alias("_rows"), F.min("_psl").alias("_sl")
    )

    adjs = F.sort_array(
        F.array_distinct(
            F.transform(
                F.filter(F.col("_rows"), lambda r: r["adj"].isNotNull()),
                lambda r: r["adj"],
            )
        )
    )
    # exposure per dB class = round(count × sample_len, 5)  (A2/A7)
    noises = F.map_from_entries(
        F.transform(
            adjs,
            lambda a: F.struct(
                a.cast("int").alias("db"),
                F.bround(
                    F.aggregate(
                        F.filter(F.col("_rows"), lambda r: r["adj"] == a),
                        F.lit(0),
                        lambda acc, r: acc + r["c"],
                    )
                    * F.col("_sl"),
                    5,
                ).alias("exposure"),
            ),
        )
    )

    def src_cnt(i: int) -> Column:
        return F.aggregate(
            F.filter(
                F.col("_rows"),
                lambda r: F.shiftright(r["mask"], i).bitwiseAND(F.lit(1)) == 1,
            ),
            F.lit(0),
            lambda acc, r: acc + r["c"],
        )

    pairs = F.filter(
        F.array(
            *[
                F.struct(
                    src_cnt(i).alias("cnt"),
                    F.lit(-i).alias("negprio"),
                    F.lit(s).alias("src"),
                )
                for i, s in enumerate(SOURCES)
            ]
        ),
        lambda p: p["cnt"] > 0,
    )
    # mode with the deterministic tie-break: max count, then the fixed
    # source order (struct ordering: cnt, then -priority)
    noise_source = F.when(F.size(pairs) > 0, F.array_max(pairs)["src"]).otherwise(
        F.lit("")
    )
    noise_sources = F.map_from_entries(
        F.sort_array(
            F.transform(
                pairs, lambda p: F.struct(p["src"].alias("src"), p["cnt"].alias("cnt"))
            )
        )
    )

    out = g.select(
        edge_id,
        noises.alias("noises"),
        noise_source.alias("noise_source"),
        noise_sources.alias("noise_sources"),
    )

    if edges_all is None and extent_flag is None:
        # every edge yields ≥1 sample ⇒ the group keys already ARE the
        # full edge list: no reassembly join at all
        return out
    if edges_all is None:
        edges_all = final_samples.select(edge_id).distinct()
    empty_noises = F.map_from_arrays(
        F.array().cast("array<int>"), F.array().cast("array<double>")
    )
    empty_sources = F.map_from_arrays(
        F.array().cast("array<string>"), F.array().cast("array<int>")
    )
    in_extent = F.lit(True) if extent_flag is None else F.col(extent_flag)
    return edges_all.join(out, edge_id, "left").select(
        edge_id,
        F.when(in_extent, F.coalesce("noises", empty_noises))
        .otherwise(F.lit(None).cast("map<int,double>"))
        .alias("noises"),
        F.when(in_extent, F.coalesce("noise_source", F.lit("")))
        .otherwise(F.lit(None).cast("string"))
        .alias("noise_source"),
        F.when(in_extent, F.coalesce("noise_sources", empty_sources))
        .otherwise(F.lit(None).cast("map<string,int>"))
        .alias("noise_sources"),
    )
