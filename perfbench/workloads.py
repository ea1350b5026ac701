"""The benchmark's workloads.

Each workload builds its inputs from the seed (``setup``), warms up,
runs one job per ``rep`` inside the timed region, digests the output
outside it, checks it once per invocation (``check``) and, in a traced
run, repeats the job as a chain of traced layer prefixes
(``traced_rep``).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hope_graph_builder_spark import synth
from hope_graph_builder_spark.checkpoint.manifest import (
    completed_groups,
    read_stage,
    run_stage,
    with_tile_group,
)
from hope_graph_builder_spark.operators.noise import LAYER_NAMES
from hope_graph_builder_spark.operators.sampling import sample_edges, with_xy_id
from hope_graph_builder_spark.operators.spatial_join import (
    CELL,
    hot_cell_factors,
    pip_join_rect,
    pip_join_wkb,
    with_cover_cells,
    with_point_cell,
)
from hope_graph_builder_spark.pipelines.noise_join import (
    location_exposures,
    noise_final_samples,
    run_noise_join,
)

import gen
from spans import metric_value


def hash_fold(df: DataFrame) -> tuple[int, int]:
    """(order-free xor of per-row hashes over every column, row count):
    consumes all columns, so Catalyst cannot prune a join."""
    cols = sorted(df.columns)
    r = df.agg(
        F.bit_xor(F.xxhash64(F.to_json(F.struct(*cols)))).alias("h"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    return int(r["h"] or 0), int(r["n"])


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


class Ctx:
    """One invocation's session, seed and scratch directory."""

    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.seed = seed
        self.work = work

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


# --------------------------------------------------------------------- noise

STAGE = "edge_noises"
NOISE_RES = 7  # bench.py's flagship resolution
TILE_RES = 4  # tools/run_pipeline.py's tile groups
ORACLE_EDGES = 2_000  # DuckDB runs the flagship twin at ~1k edges/s


def noise_job(edges: DataFrame, layers: DataFrame) -> DataFrame:
    """The production form of tools/run_pipeline.py: noises joined back
    to each edge's start point, tagged with its tile group."""
    noises = run_noise_join(edges, layers, synth.NODATA_RECT, res=NOISE_RES)
    return with_tile_group(
        noises.join(edges.select("edge_id", "x1", "y1"), "edge_id"), "x1", "y1",
        res=TILE_RES,
    ).drop("x1", "y1")


def _lineage(root: str) -> list[tuple]:
    """Sorted (tile_group, row_count, checksum) manifest rows of a root."""
    import pyarrow.parquet as pq

    t = pq.read_table(f"{root}/_manifest", columns=["tile_group", "row_count", "checksum"])
    return sorted(zip(*(t.column(c).to_pylist() for c in t.column_names)))


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


class Noise:
    """``run_noise_join → with_tile_group → manifest.run_stage`` into a
    fresh root (``resume=False``) or into a root where a seeded half of
    the tile groups is already committed (``resume=True``)."""

    # the cold flagship run of ``warmup`` is the warm-up: the first
    # resume rep after it takes 11-20 s here, and an untimed one does not
    # fit the run budget
    warm_min, warm_cap_s = 0, 0.0

    def __init__(self, name: str, n_edges: int, resume: bool):
        self.name = name
        self.rows = n_edges
        self.resume = resume

    def setup(self, ctx: Ctx, k: int) -> dict:
        spark = ctx.spark
        d = ctx.path(f"setup{k}")
        gen.edges(spark, ctx.seed, self.rows).write.parquet(f"{d}/edges")
        edges = spark.read.parquet(f"{d}/edges")
        layers = synth.noise_layers(spark)
        return {"edges": edges, "layers": layers, "dir": d, "template": None, "committed": 0}

    def warmup(self, ctx: Ctx, inp: dict) -> None:
        """One fresh flagship run (the noise_flagship rep) into its own
        root: warms the plan shapes and is the output every rep must
        reproduce. For resume, a seeded half of its tile groups (data
        and manifest rows) becomes the committed state each rep starts
        from."""
        spark = ctx.spark
        warm = f"{inp['dir']}/warm"
        run_stage(spark, noise_job(inp["edges"], inp["layers"]), STAGE, warm)
        inp["reference"] = warm
        inp["lineage"] = _lineage(warm)
        inp["groups"] = groups = [g for g, _, _ in inp["lineage"]]
        if not self.resume:
            return
        rng = np.random.default_rng(ctx.seed)
        done = sorted(int(g) for g in rng.choice(groups, size=len(groups) // 2, replace=False))
        tpl = f"{inp['dir']}/template"
        for g in done:
            shutil.copytree(f"{warm}/data/{STAGE}/tile_group={g}",
                            f"{tpl}/data/{STAGE}/tile_group={g}")
        (spark.read.parquet(f"{warm}/_manifest").filter(F.col("tile_group").isin(done))
         .coalesce(1).write.parquet(f"{tpl}/_manifest"))
        inp.update(template=tpl, committed=len(done))

    def prepare(self, ctx: Ctx, inp: dict, i: int) -> str:
        root = f"{inp['dir']}/rep{i}"
        if inp["template"]:
            shutil.copytree(inp["template"], root)
        return root

    def rep(self, ctx: Ctx, inp: dict, root: str) -> dict:
        return run_stage(ctx.spark, noise_job(inp["edges"], inp["layers"]), STAGE, root)

    def digest(self, ctx: Ctx, inp: dict, root: str, stats: dict) -> tuple:
        """The committed lineage rows — per tile group, the row count and
        the checksum run_stage computed from the written data — and the
        group counts run_stage reported."""
        return (_lineage(root), stats["groups_written"], stats["groups_skipped"])

    def properties(self, ctx: Ctx, inp: dict) -> dict:
        samples = with_xy_id(sample_edges(inp["edges"]))
        r = samples.agg(F.count(F.lit(1)).alias("n"),
                        F.countDistinct("xy_id").alias("u")).collect()[0]
        return {
            "edges": self.rows,
            "samples": r["n"],
            "sample_dedup_factor": round(r["n"] / r["u"], 4),
            "polygons": inp["layers"].count(),
            "tile_groups": len(inp["groups"]),
            "committed_group_share": round(inp["committed"] / len(inp["groups"]), 4),
        }

    def check(self, ctx: Ctx, inp: dict, digests: list, last) -> list[tuple]:
        """Every rep commits the lineage of the fresh flagship run made in
        the warm-up, skipping exactly the committed groups; the last
        rep's committed rows equal the flagship's (all-column hash fold),
        one row per edge; on the first ORACLE_EDGES edges the noise
        exposures equal the DuckDB twin (oracle.sql_noise_exposures)."""
        n_groups, skipped = len(inp["groups"]), inp["committed"]
        bad = [(i, f"lineage or group counts differ from the flagship: {d[1:]}")
               for i, d in enumerate(digests)
               if d != (inp["lineage"], n_groups - skipped, skipped)]
        ref = read_stage(ctx.spark, inp["reference"], STAGE)
        want = hash_fold(ref)
        got = hash_fold(read_stage(ctx.spark, last, STAGE))
        if got != want:
            bad.append((len(digests) - 1, f"committed rows {got} != flagship {want}"))
        if want[1] != self.rows:
            bad.append((None, f"flagship gave {want[1]} rows for {self.rows} edges"))
        lo = gen.id_offset(ctx.seed)
        rows = (ref.filter(F.col("edge_id") < lo + ORACLE_EDGES)
                .select("edge_id", F.explode("noises").alias("db", "exposure")).collect())
        bad += [(None, m) for m in _oracle_noise_exposures(range(lo, lo + ORACLE_EDGES), rows)]
        return bad

    def traced_rep(self, ctx: Ctx, inp: dict, tr, i: int) -> None:
        spark, edges, layers = ctx.spark, inp["edges"], inp["layers"]
        samples = with_xy_id(sample_edges(edges))
        with tr.span("sampling", rep=i) as c:
            noop(samples)
        r = samples.agg(F.count(F.lit(1)).alias("n"),
                        F.countDistinct("xy_id").alias("u")).collect()[0]
        c.update(rows_out=r["n"], dedup_factor=r["n"] / r["u"])

        with tr.span("noise_join.location_exposures", ("sampling",), rep=i) as c:
            noop(location_exposures(samples, layers, NOISE_RES))
        c.update(_cell_candidates(samples, layers, NOISE_RES + 1))

        with tr.span("noise_join.final_samples", ("noise_join.location_exposures",), rep=i) as c:
            noop(noise_final_samples(edges, layers, synth.NODATA_RECT, res=NOISE_RES))
        strip = location_exposures(samples, layers, NOISE_RES, strip=synth.NODATA_RECT)
        no_noise = F.lit(True)
        for col in LAYER_NAMES:
            no_noise = no_noise & F.col(col).isNull()
        c["miss_points"] = strip.filter(no_noise).count()

        with tr.span("noise.edge_agg", ("noise_join.final_samples",), rep=i):
            noop(run_noise_join(edges, layers, synth.NODATA_RECT, res=NOISE_RES))

        root = self.prepare(ctx, inp, 10_000 + i)
        with tr.span("manifest", ("noise.edge_agg", "manifest.completed_groups"), rep=i) as c:
            with tr.span("manifest.completed_groups", rep=i):
                completed_groups(spark, root, STAGE).count()
            t0 = time.perf_counter()
            stats = run_stage(spark, noise_job(edges, layers), STAGE, root)
            run_s = time.perf_counter() - t0
        template_rows = (spark.read.parquet(f"{inp['template']}/data/{STAGE}").count()
                         if inp["template"] else 0)
        written_rows = spark.read.parquet(f"{root}/data/{STAGE}").count() - template_rows
        written_bytes = _dir_bytes(f"{root}/data/{STAGE}") - (
            _dir_bytes(f"{inp['template']}/data/{STAGE}") if inp["template"] else 0)
        c.update(
            write_s=stats["wall_ms"] / 1e3,
            lineage_s=run_s - stats["wall_ms"] / 1e3,
            groups_written=stats["groups_written"],
            groups_skipped=stats["groups_skipped"],
            bytes_per_row=written_bytes / max(written_rows, 1),
            useful_frac=written_rows / self.rows,
        )
        return root, stats


def _cell_candidates(samples: DataFrame, layers: DataFrame, res: int) -> dict:
    """Candidate rows of location_exposures' left cell join (it joins
    one resolution finer than the polygon res) and the share the exact
    bbox refine keeps."""
    sq = samples.select(
        (F.floor(F.col("xy_id") / 10_000_000) / 10.0).alias("x"),
        (F.pmod(F.col("xy_id"), 10_000_000) / 10.0).alias("y"),
    )
    p = with_point_cell(sq, "x", "y", res)
    g = F.broadcast(with_cover_cells(layers, "minx", "miny", "maxx", "maxy", res)
                    .select(CELL, "minx", "miny", "maxx", "maxy"))
    hit = ((F.col("x") >= F.col("minx")) & (F.col("x") < F.col("maxx"))
           & (F.col("y") >= F.col("miny")) & (F.col("y") < F.col("maxy")))
    r = p.join(g, CELL, "left").agg(
        F.count(F.lit(1)).alias("n"), F.count(F.when(hit, 1)).alias("h")
    ).collect()[0]
    return {"cell_candidates": r["n"], "refine_hit_frac": r["h"] / r["n"]}


def _oracle_noise_exposures(edge_ids: range, got: list[tuple]) -> list[str]:
    """Compare (edge_id, db, exposure) rows with the DuckDB twin run
    over the same edge ids."""
    import duckdb

    from hope_graph_builder_spark import oracle

    ids = pd.DataFrame({"doc_id": np.arange(edge_ids.start, edge_ids.stop, dtype=np.int64),
                        "text": ""})
    con = duckdb.connect()
    try:
        con.execute("SET threads = 2")
        con.register("documents", ids)
        want = con.execute(oracle.sql_noise_exposures()).fetchall()
    finally:
        con.close()
    norm = lambda rows: sorted((int(e), int(d), float(x)) for e, d, x in rows)  # noqa: E731
    if len(got) != len(want):
        return [f"{len(got)} exposure rows, the DuckDB twin has {len(want)}"]
    return [] if norm(got) == norm(want) else ["exposures differ from the DuckDB twin"]


# ----------------------------------------------------------------------- pip

PIP_RES = 7  # ≈ polygon size (bench.py's shuffle legs)


class PipSkewedWkb:
    """Skewed points through the general-polygon PIP with profile-driven
    hot-cell salting and ``broadcast_polys=False`` (bench.py's
    pip_join_shuffle_hot shape, with the WKB refine). With the session
    defaults AQE still turns the join into a broadcast join at run
    time, here and at 1M points."""

    # the cold rep, and more only while they are short
    warm_min, warm_cap_s = 1, 8.0

    def __init__(self, name: str, n_points: int):
        self.name = name
        self.rows = n_points
        # bench.py's profile threshold ratio (points / 40)
        self.threshold = max(n_points // 40, 1)

    def setup(self, ctx: Ctx, k: int) -> dict:
        spark = ctx.spark
        d = ctx.path(f"setup{k}")
        gen.points(spark, ctx.seed, self.rows).write.parquet(f"{d}/points")
        # a reference surface of a few MB is one file; read from several,
        # the polygon-side stage finished before or after the point side
        # by chance, AQE's runtime broadcast then split the refine into 2
        # or 3 tasks, and rep times into two modes 50% apart
        gen.wkb_layers(spark).coalesce(1).write.parquet(f"{d}/polys")
        return {"points": spark.read.parquet(f"{d}/points"),
                "polys": spark.read.parquet(f"{d}/polys"), "dir": d}

    def job(self, inp: dict, rect: bool = False) -> DataFrame:
        pts = inp["points"]
        hot = hot_cell_factors(with_point_cell(pts, "x", "y", PIP_RES),
                               threshold=self.threshold).localCheckpoint()
        if rect:
            out = pip_join_rect(pts, inp["polys"].drop("geom"), res=PIP_RES, point_id="doc_id",
                                hot=hot, broadcast_polys=False)
        else:
            out = pip_join_wkb(pts, inp["polys"], res=PIP_RES, point_id="doc_id",
                               hot=hot, broadcast_polys=False)
        return out.select("doc_id", "x", "y", "layer", "poly_id", "db")

    def warmup(self, ctx: Ctx, inp: dict) -> None:
        """Nothing beyond the untimed reps run.py makes."""

    def prepare(self, ctx: Ctx, inp: dict, i: int) -> None:
        return None

    def rep(self, ctx: Ctx, inp: dict, _: None) -> tuple[int, int]:
        return hash_fold(self.job(inp))

    def digest(self, ctx: Ctx, inp: dict, _: None, folded: tuple) -> tuple:
        return folded

    def properties(self, ctx: Ctx, inp: dict) -> dict:
        loads = with_point_cell(inp["points"], "x", "y", PIP_RES).groupBy(CELL).count()
        r = loads.agg(F.max("count").alias("m"), F.count(F.lit(1)).alias("c")).collect()[0]
        hot = loads.filter(F.col("count") > self.threshold).agg(F.sum("count")).collect()[0][0]
        return {
            "points": self.rows,
            "cells": r["c"],
            "max_cell_load": r["m"],
            "hot_cell_share": round((hot or 0) / self.rows, 4),
            "polygons": inp["polys"].count(),
        }

    def check(self, ctx: Ctx, inp: dict, digests: list, last) -> list[tuple]:
        """Every rep equals pip_join_rect on the same points."""
        want = hash_fold(self.job(inp, rect=True))
        bad = [] if want[1] > 0 else [(None, "pip_join_rect matched nothing")]
        return bad + [(i, f"digest {got} != pip_join_rect {want}")
                      for i, got in enumerate(digests) if got != want]

    def traced_rep(self, ctx: Ctx, inp: dict, tr, i: int) -> None:
        pts = inp["points"]
        pw = with_point_cell(pts, "x", "y", PIP_RES)
        with tr.span("spatial_join.profile", rep=i):
            hot = hot_cell_factors(pw, threshold=self.threshold).localCheckpoint()
            hot_cells = len(hot.collect())
        profile_s = tr.spans[-1]["dur"]
        max_load = pw.groupBy(CELL).count().agg(F.max("count")).collect()[0][0]

        # the candidate join with the native bbox refine: pip_join_wkb's
        # prefix up to its Arrow refine
        with tr.span("spatial_join", ("spatial_join.profile",), rep=i) as sj:
            hot = hot_cell_factors(pw, threshold=self.threshold).localCheckpoint()
            noop(pip_join_rect(pts, inp["polys"].drop("geom"), res=PIP_RES, point_id="doc_id",
                               hot=hot, broadcast_polys=False))
        sj.update(profile_s=profile_s, hot_cells=hot_cells, max_cell_load=max_load)

        with tr.span("kernels", ("spatial_join",), rep=i) as c:
            hot = hot_cell_factors(pw, threshold=self.threshold).localCheckpoint()
            noop(pip_join_wkb(pts, inp["polys"], res=PIP_RES, point_id="doc_id",
                              hot=hot, broadcast_polys=False))
        c.update(_refine_counts(tr.store.last_plan_metrics()))
        sj["candidates"] = c["rows_in"]


def _refine_counts(plan: list) -> dict:
    """Rows into and out of the MapInPandas refine, read from the SQL
    metrics of its node and of the join node feeding it."""
    names = [n for n, _ in plan]
    k = names.index("MapInPandas")
    _, m = plan[k]
    join = next(v for n, v in plan[k + 1:] if n.endswith("Join"))
    rows_in = metric_value(join["number of output rows"])
    out = {
        "rows_in": rows_in,
        "hit_frac": metric_value(m["number of output rows"]) / max(rows_in, 1.0),
    }
    if "data sent to Python workers" in m:
        out["arrow_mb_in"] = metric_value(m["data sent to Python workers"])
    return out


# ------------------------------------------------------------------- webtext

class WebtextIngest:
    """Seeded pages through ``run_webtext_ingest(minhash_hash="xx")``
    with language profiles pretrained outside the timed region, as in
    tools/bench_webtext.py."""

    warm_min, warm_cap_s = 1, 10.0

    def __init__(self, name: str, n_pages: int):
        self.name = name
        self.rows = n_pages

    def setup(self, ctx: Ctx, k: int) -> dict:
        from hope_graph_builder_spark.operators import corpus
        from hope_graph_builder_spark.operators import text as textops
        from hope_graph_builder_spark.operators.extract import extract_text, markup_pages

        spark = ctx.spark
        d = ctx.path(f"setup{k}")
        pdf, groups = gen.pages_pdf(ctx.seed, self.rows)
        parts = spark.sparkContext.defaultParallelism * 2
        markup_pages(spark.createDataFrame(pdf)).repartition(parts).write.parquet(f"{d}/pages")
        pages = spark.read.parquet(f"{d}/pages")
        sample = extract_text(corpus.hash_sample(pages, rate=0.05, salt="prof"))
        profiles = textops.train_lang_profiles(
            sample.filter(F.col("lang").isNotNull()), text="extracted_text", lang="lang",
        ).localCheckpoint()
        return {"pages": pages, "profiles": profiles, "groups": groups, "dir": d,
                "lang": dict(zip(pdf.doc_id, pdf.lang))}

    def job(self, pages: DataFrame, profiles: DataFrame) -> DataFrame:
        from hope_graph_builder_spark.pipelines.webtext import run_webtext_ingest

        return run_webtext_ingest(pages, minhash_hash="xx", profiles=profiles)

    def warmup(self, ctx: Ctx, inp: dict) -> None:
        """Nothing beyond the untimed reps run.py makes."""

    def prepare(self, ctx: Ctx, inp: dict, i: int) -> None:
        return None

    def rep(self, ctx: Ctx, inp: dict, _: None):
        from hope_graph_builder_spark.operators.graph import connected_components

        out = self.job(inp["pages"], inp["profiles"]).toPandas()
        out.attrs["rounds"] = getattr(connected_components, "last_rounds", None)
        return out

    def digest(self, ctx: Ctx, inp: dict, _: None, out) -> tuple:
        rows = out.sort_values("doc_id").to_csv(index=False).encode()
        return (hashlib.sha1(rows).hexdigest(), len(out), self._verify(inp, out))

    def _verify(self, inp: dict, out) -> str:
        """'' when the output holds, else what is wrong."""
        if len(out) != self.rows or out.doc_id.nunique() != self.rows:
            return f"{len(out)} rows for {self.rows} pages"
        cluster = dict(zip(out.doc_id, out.cluster_id))
        split = sum(len({cluster[d] for d in g}) > 1 for g in inp["groups"])
        if split:
            return f"{split} planted duplicate groups split across clusters"
        if out[out.keep].groupby("cluster_id").size().max() > 1:
            return "a cluster keeps more than one page"
        hit = (out.lang_pred == out.doc_id.map(inp["lang"])).mean()
        if hit < 0.9:
            return f"language accuracy {hit:.3f} < 0.9"
        return ""

    def properties(self, ctx: Ctx, inp: dict) -> dict:
        return {
            "pages": self.rows,
            "planted_duplicate_groups": len(inp["groups"]),
            "duplicate_pages": sum(len(g) - 1 for g in inp["groups"]),
            "profile_trigrams": inp["profiles"].count(),
        }

    def check(self, ctx: Ctx, inp: dict, digests: list, last) -> list[tuple]:
        """Each rep's rows hold (``_verify``) and all reps agree."""
        bad = [(i, d[2]) for i, d in enumerate(digests) if d[2]]
        if len({d[:2] for d in digests}) > 1:
            bad.append((None, "output differs between reps of one seed"))
        return bad

    def traced_rep(self, ctx: Ctx, inp: dict, tr, i: int) -> None:
        from pyspark.sql.window import Window

        from hope_graph_builder_spark.operators import text as textops
        from hope_graph_builder_spark.operators.dedup import minhash_star_pairs
        from hope_graph_builder_spark.operators.extract import extract_text
        from hope_graph_builder_spark.operators.graph import connected_components

        pages, profiles = inp["pages"], inp["profiles"]
        # the ingest itself materializes the extraction once (a lazy
        # localCheckpoint); the traced chain does the same, eagerly
        with tr.span("extract", rep=i):
            ex = extract_text(pages).select("doc_id", "url", "extracted_text").localCheckpoint()
        with tr.span("text.lang_pred", rep=i):
            lang = textops.lang_pred_ngram(ex, profiles, text="extracted_text",
                                           id_col="doc_id", out="lang_pred")
            noop(lang)
        t = F.col("extracted_text")
        sig = ex.withColumn("_toks", textops._lower_tokens(t)).select(
            "doc_id", "url",
            F.bround(textops.quality_score(t), 6).alias("quality"),
            F.size("_toks").cast("long").alias("n_tokens"),
            textops.repetition_flags_from(F.col("_toks")).alias("rep_pass"),
        )
        with tr.span("text.signals", rep=i):
            noop(sig)
        pairs = minhash_star_pairs(ex.select("doc_id", t.alias("text")), hash="xx")
        with tr.span("dedup.minhash_star_pairs", rep=i) as c:
            c["pairs"] = pairs.count()
        with tr.span("graph.connected_components", ("dedup.minhash_star_pairs",), rep=i) as c:
            comp = connected_components(pairs.select(F.col("a").alias("src"),
                                                     F.col("b").alias("dst")))
            noop(comp)
        c["rounds"] = getattr(connected_components, "last_rounds", None)
        clusters = ex.select("doc_id").join(comp, F.col("doc_id") == F.col("id"), "left").select(
            "doc_id", F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster_id"))
        w = Window.partitionBy("cluster_id").orderBy(
            F.desc("rep_pass"), F.desc("quality"), F.asc("doc_id"))
        keep = (sig.join(lang, "doc_id").join(clusters, "doc_id")
                .withColumn("_rn", F.row_number().over(w))
                .withColumn("keep", (F.col("_rn") == 1) & (F.col("quality") >= 0.5)
                            & F.col("rep_pass")))
        with tr.span("webtext.keep", ("text.lang_pred", "text.signals"), rep=i):
            noop(keep)


def make(name: str):
    """Workload by name, at its benchmark size."""
    sizes = {
        "noise_flagship": lambda: Noise("noise_flagship", 5_000, resume=False),
        "noise_resume": lambda: Noise("noise_resume", 5_000, resume=True),
        "pip_skewed_wkb": lambda: PipSkewedWkb("pip_skewed_wkb", 150_000),
        "webtext_ingest": lambda: WebtextIngest("webtext_ingest", 6_000),
    }
    if name not in sizes:
        raise SystemExit(f"unknown workload {name!r}; choose from {sorted(sizes)}")
    return sizes[name]()
