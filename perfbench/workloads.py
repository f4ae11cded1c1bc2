"""The benchmark workloads.

Each workload is a chain of layers named after the package's modules.
`run(spark, upto)` calls the public functions of the first `upto` layers
on the materialized input and forces the result, so the traced run can
time consecutive prefixes of the chain; `run(spark, len(layers))` is
the whole call a user makes.

Inputs are generated from the seed and written to parquet once, before
any timer starts; the package only ever receives the parquet tables.
The warm-up input is a separate, smaller table with the same schema, so
a warm-up runs the same plan as a rep. Each workload also carries its
oracle checks, which run outside every timer.
"""
from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gdal_spark import io
from gdal_spark.operators import dedup, tiling
from gdal_spark.operators.spatial_join import spatial_join_points_in_polygons
from gdal_spark.sources import derive, docs, polygons

# Input sizes: a 4-core host completes 4-12 reps in a 10 s window, and
# a whole run (JVM launch, input, two set-ups, reps, checks) takes about
# 30 s.
JOIN_TILE_DOCS = 200_000
PYRAMID_DOCS = 100_000
ZIPF_DOCS = 4_000

RES = 6
TILE_ZOOM = 12
PYRAMID_MAX_ZOOM = 10

# Zipf corpus (as bench.py's): word rank log-uniform over a 10k vocab,
# 40-80 words per doc; bigram Jaccard >= 60% is a near-duplicate
ZIPF_VOCAB_LN = 9.2103403719761836  # ln(10000)
DEDUP_N = 2
DEDUP_THRESHOLD_PCT = 60


def force(df: DataFrame) -> tuple[DataFrame, tuple[int, int]]:
    """Evaluate every output column through a hash sink, so Catalyst
    cannot prune work the way a bare count() would."""
    sink = df.select(F.count(F.lit(1)).alias("n"),
                     F.bit_xor(F.xxhash64(*df.columns)).alias("h"))
    row = sink.collect()[0]
    return sink, (int(row["n"]), int(row["h"] or 0))


def files_digest(path: str) -> str:
    """Digest of the bytes of a parquet directory's data files, taken
    without Spark; independent of file names and listing order."""
    import hashlib
    from pathlib import Path

    per_file = sorted(hashlib.sha256(f.read_bytes()).hexdigest()
                      for f in Path(path).glob("*.parquet"))
    return hashlib.sha256("".join(per_file).encode()).hexdigest()[:16]


def table_digest(path: str) -> tuple[int, int]:
    """(rows, order-independent 64-bit digest) of a parquet directory,
    read with pyarrow, so it does not depend on how the rows were split
    into files."""
    import pandas as pd
    import pyarrow.parquet as pq

    df = pq.read_table(path).to_pandas()
    h = pd.util.hash_pandas_object(df[sorted(df.columns)], index=False)
    return len(df), int(h.sum())


def id_base(seed: int) -> int:
    """First doc id of the seed's id range (ranges of different seeds
    do not overlap for any input size used here)."""
    return (seed % 1_000_000) * 1_000_003


def doc_table(spark: SparkSession, base: int, n: int, parts: int) -> DataFrame:
    """The interleaved doc table over ids [base, base + n), built from the
    package's public column functions."""
    i = F.col("id")
    return spark.range(base, base + n, 1, parts).select(
        F.concat(F.lit("doc-"), F.lpad(i.cast("string"), 12, "0")).alias("doc_id"),
        i.alias("doc_index"),
        docs.spans_col(i).alias("spans"),
        docs.lon_col(i).alias("lon"),
        docs.lat_col(i).alias("lat"),
    )


def zipf_corpus(spark: SparkSession, base: int, n: int, salt: int, parts: int) -> DataFrame:
    """(doc_id, text) over ids [base, base + n); the word hash is salted
    with `salt`, so each seed gets other words."""
    M31 = derive.M31
    h = f"((((doc_id * 131 + j) % {M31}) * {derive.A} + {9176 + salt}) % {M31})"
    word = (f"concat('w', cast(cast(exp({h} / cast({M31} as double) * {ZIPF_VOCAB_LN}) "
            f"as bigint) as string))")
    return spark.range(base, base + n, 1, parts).select(F.col("id").alias("doc_id")).select(
        "doc_id",
        F.expr(f"concat_ws(' ', transform(sequence(1, 40 + doc_id % 41), j -> {word}))")
        .alias("text"))


def brute_force_pairs(texts: dict[int, str], n: int, threshold_pct: int) -> list[tuple]:
    """Every pair (a < b) whose word n-gram sets have Jaccard >= the
    threshold, as (a, b, shared, na, nb), by comparing all pairs."""
    sets = {}
    for i, text in texts.items():
        toks = [t for t in text.split(" ") if t]
        sets[i] = set(zip(*(toks[k:] for k in range(n))))
    ids = sorted(sets)
    out = []
    for x, a in enumerate(ids):
        ga = sets[a]
        for b in ids[x + 1:]:
            gb = sets[b]
            shared = len(ga & gb)
            if 100 * shared >= threshold_pct * (len(ga) + len(gb) - shared):
                out.append((a, b, shared, len(ga), len(gb)))
    return out


def points_cte(base: int, n: int, modulus: int, residue: int) -> str:
    """DuckDB twin of the doc points, restricted to ids = residue mod modulus."""
    return (
        f"SELECT range AS id, {derive.lon_sql('range')} AS x, "
        f"{derive.lat_sql('range')} AS y FROM range({base}, {base + n}) "
        f"WHERE range % {modulus} = {residue}"
    )


def duckdb_rows(sql: str) -> list[tuple]:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads = 2")
        return sorted(tuple(r) for r in con.execute(sql).fetchall())
    finally:
        con.close()


class Workload:
    name = ""
    layers: tuple[str, ...] = ()
    rows = 0
    warm_rows = 0  # size of the warm-up input

    def __init__(self, work: str, seed: int, parts: int):
        self.work = work
        self.seed = seed
        self.parts = parts
        self.input_path = os.path.join(work, f"{self.name}_input")
        self.warm_path = os.path.join(work, f"{self.name}_warm")
        self.cover = None

    def table(self, spark: SparkSession, n: int) -> DataFrame:
        return doc_table(spark, id_base(self.seed), n, self.parts)

    def materialize(self, spark: SparkSession) -> None:
        """Write the input and the warm-up input (its first `warm_rows`
        rows) to parquet."""
        self.table(spark, self.rows).write.mode("overwrite").parquet(self.input_path)
        self.table(spark, self.warm_rows).write.mode("overwrite").parquet(self.warm_path)

    def build(self, spark: SparkSession) -> None:
        """Per-job set-up the user pays before the call (cover build)."""

    def run(self, spark: SparkSession, upto: int, warm: bool = False):
        """Force the first `upto` layers; returns (sink DataFrame or None,
        output summary or None)."""
        raise NotImplementedError

    def written_summary(self):
        """Output summary of a whole-chain call that ends in a write
        rather than a hash sink; taken outside the timer."""
        return None

    def checks(self, spark: SparkSession) -> list[tuple[str, bool, str]]:
        raise NotImplementedError

    def read(self, spark: SparkSession, warm: bool) -> DataFrame:
        return spark.read.parquet(self.warm_path if warm else self.input_path)


class JoinTile(Workload):
    """Headline: doc table with spans -> PIP join (64-vertex cover, no
    strategy argument) -> tile assignment at z12 -> hash sink."""

    name = "join_tile"
    layers = ("sources", "spatial_join", "tiling")
    rows = JOIN_TILE_DOCS
    warm_rows = JOIN_TILE_DOCS // 32
    keep = ["doc_id", "doc_index", "spans", "lon", "lat"]
    sample_mod = 128

    def build(self, spark):
        self.cover = polygons.countries64_cover(spark, res=RES)

    def pipeline(self, spark, upto, warm=False) -> DataFrame:
        d = self.read(spark, warm)
        if upto == 1:
            return d
        j = spatial_join_points_in_polygons(d, self.cover, res=RES,
                                            keep_point_cols=self.keep)
        if upto == 2:
            return j
        return tiling.assign_tiles(j, zoom=TILE_ZOOM).select(
            "doc_id", "doc_index", "spans", "poly_id", "tx", "ty_xyz", "quadkey")

    def run(self, spark, upto, warm=False):
        return force(self.pipeline(spark, upto, warm))

    def checks(self, spark):
        base, r = id_base(self.seed), self.seed % self.sample_mod
        out = self.pipeline(spark, len(self.layers)).filter(
            F.col("doc_index") % self.sample_mod == r).cache()
        got = sorted(
            (int(x["doc_index"]), int(x["poly_id"]), int(x["tx"]), int(x["ty_xyz"]), x["quadkey"])
            for x in out.select("doc_index", "poly_id", "tx", "ty_xyz", "quadkey").collect()
        )
        pts = points_cte(base, self.rows, self.sample_mod, r)
        lim = 2**TILE_ZOOM - 1
        tx = derive.clamp_sql(derive.tile_sql(derive.mercator_mx_sql("x"), TILE_ZOOM), 0, lim)
        ty = derive.clamp_sql(derive.tile_sql(derive.mercator_my_sql("y"), TILE_ZOOM), 0, lim)
        sql = f"""
SELECT h.id, h.poly_id, t.tx, {derive.xyz_ty_sql('t.ty_tms', TILE_ZOOM)},
       {derive.quadkey_sql('t.tx', 't.ty_tms', TILE_ZOOM)}
FROM ({derive.pip_join_sql(pts)}) h
JOIN (SELECT id, {tx} AS tx, {ty} AS ty_tms FROM ({pts})) t ON h.id = t.id
"""
        want = duckdb_rows(sql)
        ok_join = got == want and len(got) > 0
        # spans pass through the join untouched: compare each output row's
        # fingerprint with its input doc's
        fp_out = sorted(
            (int(x["doc_index"]), x["span_fp"])
            for x in docs.span_fingerprint(out, id_col="doc_index").collect())
        src = self.read(spark, False).filter(F.col("doc_index") % self.sample_mod == r)
        fp_in = {int(x["doc_index"]): x["span_fp"]
                 for x in docs.span_fingerprint(src, id_col="doc_index").collect()}
        out.unpersist()
        ok_spans = len(fp_out) == len(got) and all(fp_in.get(i) == fp for i, fp in fp_out)
        return [
            ("join_tile.duckdb_pip_tiles", ok_join, f"{len(got)} rows vs {len(want)} expected"),
            ("join_tile.span_fingerprint", ok_spans, f"{len(fp_out)} joined rows"),
        ]


class PyramidWrite(Workload):
    """Doc table -> count pyramid z10..z0 -> range-partitioned parquet
    write. No PIP; the only workload that writes."""

    name = "pyramid_write"
    layers = ("sources", "tiling", "io")
    rows = PYRAMID_DOCS
    warm_rows = PYRAMID_DOCS // 32

    def __init__(self, work, seed, parts):
        super().__init__(work, seed, parts)
        self.out_path = os.path.join(work, "pyramid_out")

    def run(self, spark, upto, warm=False):
        d = self.read(spark, warm)
        if upto == 1:
            return force(d.select("lon", "lat"))
        pyr = tiling.pyramid_counts(d, max_zoom=PYRAMID_MAX_ZOOM)
        if upto == 2:
            return force(pyr)
        io.write_range_partitioned(pyr, self.out_path)
        return None, None

    def written_summary(self):
        return table_digest(self.out_path)

    def written(self) -> tuple[int, int]:
        """(parquet files, bytes) of the last write."""
        files = [f for f in os.listdir(self.out_path) if f.endswith(".parquet")]
        return len(files), sum(os.path.getsize(os.path.join(self.out_path, f)) for f in files)

    def checks(self, spark):
        back = spark.read.parquet(self.out_path)
        sums = {int(x["zoom"]): int(x["s"])
                for x in back.groupBy("zoom").agg(F.sum("cnt").alias("s")).collect()}
        levels = list(range(PYRAMID_MAX_ZOOM + 1))
        ok = sorted(sums) == levels and all(sums[z] == self.rows for z in levels)
        return [("pyramid_write.zoom_sums", ok,
                 f"{len(sums)} zooms, sums {sorted(set(sums.values()))} vs {self.rows}")]


class DedupZipf(Workload):
    """Seeded Zipf corpus -> AllPairs n-gram Jaccard pairs (persisted
    index tables, prefix self-join, verification) -> hash sink."""

    name = "dedup_zipf"
    layers = ("sources", "dedup")
    rows = ZIPF_DOCS
    warm_rows = ZIPF_DOCS // 8
    # near-duplicate pairs in this corpus sit at particular id distances:
    # the docs with ids = r (mod 8) can hold none, those mod 4 held 70-80
    # pairs on every seed tried
    sample_mod = 4

    def table(self, spark, n):
        return zipf_corpus(spark, id_base(self.seed), n, salt=self.seed * 7919, parts=self.parts)

    def pipeline(self, spark, upto, warm=False) -> DataFrame:
        d = self.read(spark, warm)
        if upto == 1:
            return d
        return dedup.ngram_jaccard_pairs(d, id_col="doc_id", n=DEDUP_N,
                                         threshold_pct=DEDUP_THRESHOLD_PCT)

    def run(self, spark, upto, warm=False):
        return force(self.pipeline(spark, upto, warm))

    def checks(self, spark):
        # AllPairs is exact: restricted to a sub-corpus, its pairs are the
        # brute-force pairs of that sub-corpus
        m, r = self.sample_mod, self.seed % self.sample_mod
        sub = F.col("doc_id") % m == r
        texts = {int(x["doc_id"]): x["text"]
                 for x in self.read(spark, False).filter(sub).collect()}
        out = self.pipeline(spark, len(self.layers))
        got = sorted(
            tuple(int(v) for v in x)
            for x in out.filter((F.col("id_a") % m == r) & (F.col("id_b") % m == r))
            .select("id_a", "id_b", "shared", "na", "nb").collect())
        spark.catalog.clearCache()
        want = brute_force_pairs(texts, DEDUP_N, DEDUP_THRESHOLD_PCT)
        return [("dedup_zipf.brute_force_jaccard", got == want and len(want) > 0,
                 f"{len(got)} pairs vs {len(want)} expected over {len(texts)} docs")]


WORKLOADS = {w.name: w for w in (JoinTile, PyramidWrite, DedupZipf)}
