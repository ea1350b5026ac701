"""Seeded input generators. The program receives only what these build.

The seed shifts the synthetic id space that ``synth.xy_fragments``
hashes into positions, so every seed gives other edges and points with
the same statistical shape: 1 id in 10 lands in one 100 m hotspot
square. Web pages are generated here from seeded word draws over five
synthetic languages, with planted exact-duplicate groups.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hope_graph_builder_spark import synth
from hope_graph_builder_spark.spatial.wkb import polygon_to_wkb_rings

# ids stay below 2^33 so the LCG products in xy_fragments fit a long
ID_STRIDE = 1_000_003


def id_offset(seed: int) -> int:
    return 1 + (seed % 4096) * ID_STRIDE


def ids(spark: SparkSession, seed: int, n: int, col: str) -> DataFrame:
    off = id_offset(seed)
    parts = spark.sparkContext.defaultParallelism * 2
    return spark.range(off, off + n, numPartitions=parts).select(F.col("id").alias(col))


def edges(spark: SparkSession, seed: int, n: int) -> DataFrame:
    """2-vertex street edges (edge_id, x1, y1, x2, y2, length), the
    columns of ``synth.page_edges_dense``."""
    fr = synth.xy_fragments("edge_id")
    x, y, dx, dy = (F.expr(fr[k]) for k in ("x", "y", "dx", "dy"))
    return ids(spark, seed, n, "edge_id").select(
        "edge_id",
        x.alias("x1"), y.alias("y1"),
        (x + dx).alias("x2"), (y + dy).alias("y2"),
        F.sqrt(dx * dx + dy * dy).alias("length"),
    )


def points(spark: SparkSession, seed: int, n: int) -> DataFrame:
    fr = synth.xy_fragments("doc_id")
    return ids(spark, seed, n, "doc_id").select(
        "doc_id", F.expr(fr["x"]).alias("x"), F.expr(fr["y"]).alias("y")
    )


def wkb_layers(spark: SparkSession) -> DataFrame:
    """The noise surfaces as general WKB polygons plus their bbox
    columns, the shape ``pip_join_wkb`` takes."""
    pdf = synth._layer_grid_np()
    pdf["geom"] = [
        bytearray(polygon_to_wkb_rings([np.array(
            [[a, b], [c, b], [c, d], [a, d]], dtype=np.float64)]))
        for a, b, c, d in zip(pdf.minx, pdf.miny, pdf.maxx, pdf.maxy)
    ]
    return spark.createDataFrame(
        pdf[["layer", "poly_id", "db", "minx", "miny", "maxx", "maxy", "geom"]]
    )


# five synthetic languages: each draws words from its own syllables and
# carries its marker stop words (operators/text.LANG_MARKERS)
_LANGS = {
    "en": (["th", "ing", "er", "an", "st", "ow", "ea", "ck"], ["the", "and", "of", "a"]),
    "de": (["sch", "ung", "ei", "ch", "ber", "keit", "au", "rn"], ["der", "und", "die"]),
    "fr": (["eau", "ou", "ais", "ment", "qu", "eur", "lle", "oi"], ["le", "et", "la"]),
    "es": (["ado", "cio", "rr", "ando", "ll", "ez", "ue", "os"], ["el", "y", "de"]),
    "fi": (["kk", "ssa", "aa", "inen", "ll", "tt", "uu", "yy"], ["ja", "on", "ei"]),
}
_VOCAB_SEED = 20240101  # the vocabularies are fixed; the seed draws documents
_WORDS_PER_LANG = 400


def _vocab() -> dict[str, tuple[np.ndarray, list[str]]]:
    rng = np.random.default_rng(_VOCAB_SEED)
    cons = list("bcdfghjklmnprstv")
    out = {}
    for lang, (syl, stop) in _LANGS.items():
        words = set()
        while len(words) < _WORDS_PER_LANG:
            k = rng.integers(1, 4)
            words.add("".join(
                s + rng.choice(cons) for s in rng.choice(syl, size=k)
            ))
        out[lang] = (np.array(sorted(words)), stop)
    return out


def pages_pdf(seed: int, n: int, dup_share: float = 0.1) -> tuple[pd.DataFrame, list[list[int]]]:
    """n pages (doc_id, url, text, lang) and the planted duplicate
    groups (lists of doc_ids with identical text).

    A ``dup_share`` of the pages are copies: each copies the text of an
    earlier original, so MinHash gives every group member the same
    signature and the group must land in one cluster."""
    rng = np.random.default_rng(seed)
    vocab = _vocab()
    langs = list(_LANGS)
    off = id_offset(seed)
    lang_of = rng.choice(langs, size=n, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    n_words = rng.integers(30, 90, size=n)
    texts, groups = [], {}
    n_orig = n - int(n * dup_share)
    for i in range(n):
        if i >= n_orig:
            src = int(rng.integers(0, n_orig))
            texts.append(texts[src])
            lang_of[i] = lang_of[src]
            groups.setdefault(off + src, [off + src]).append(off + i)
            continue
        words, stop = vocab[lang_of[i]]
        w = rng.choice(words, size=n_words[i])
        # ~1 marker word in 6, and a sentence break every ~12 words
        mark = rng.random(n_words[i]) < 0.17
        w = np.where(mark, rng.choice(stop, size=n_words[i]), w)
        tokens = [t + ("." if j % 12 == 11 else "") for j, t in enumerate(w)]
        texts.append(" ".join(tokens))
    doc_id = np.arange(off, off + n, dtype=np.int64)
    pdf = pd.DataFrame({
        "doc_id": doc_id,
        "url": [f"https://example.org/{lg}/{d}" for lg, d in zip(lang_of, doc_id)],
        "text": texts,
        "lang": lang_of,
    })
    return pdf, list(groups.values())
