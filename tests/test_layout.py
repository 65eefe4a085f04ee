"""Z-order layout: a box predicate over two columns must touch far
fewer files than a single-column sort layout allows, because Morton
clustering keeps both dimensions' per-file min/max ranges tight."""

from __future__ import annotations

from pyspark.sql import functions as F

from distributed_mapreduce_spark.sources.layout import morton2, quantize

N, BITS, FILES = 20_000, 8, 16


def _grid(spark):
    # deterministic pseudo-random 2-D points: two INDEPENDENT hash
    # streams (a shared modulus would correlate the dimensions)
    return spark.range(N).select(
        F.pmod(F.xxhash64(F.col("id")), F.lit(1000)).alias("x"),
        F.pmod(F.xxhash64(F.col("id") + N), F.lit(1000)).alias("y"),
    )


def _write_zordered(df, path, z):
    """``FILES`` parquet files clustered by the z-code: range-partition
    on z and sort within each partition, so every file covers a tight
    z-interval."""
    (
        df.withColumn("_z", z)
        .repartitionByRange(FILES, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def _files_with_matches(spark, path, cond):
    return (
        spark.read.parquet(path)
        .filter(cond)
        .select(F.input_file_name().alias("f"))
        .distinct()
        .count()
    )


def test_zorder_clusters_both_dimensions(spark, tmp_path):
    df = _grid(spark)
    z = morton2(quantize(F.col("x"), 0, 999, BITS), quantize(F.col("y"), 0, 999, BITS), BITS)
    zpath = str(tmp_path / "zorder")
    _write_zordered(df, zpath, z)

    # single-column sort layout (the x-optimised strawman)
    xpath = str(tmp_path / "xsort")
    (
        df.repartitionByRange(FILES, F.col("x"))
        .sortWithinPartitions("x")
        .write.mode("overwrite")
        .parquet(xpath)
    )

    box = (F.col("x").between(100, 199)) & (F.col("y").between(100, 199))
    y_only = F.col("y").between(100, 199)

    # same rows in both layouts
    n_box = spark.read.parquet(zpath).filter(box).count()
    assert n_box == spark.read.parquet(xpath).filter(box).count() > 0

    # x-sorted layout scatters y: a y-filter has matches in EVERY file;
    # the z-order layout confines it to a strict subset
    assert _files_with_matches(spark, xpath, y_only) == FILES
    z_files_y = _files_with_matches(spark, zpath, y_only)
    assert z_files_y < FILES / 2

    # and the 2-D box stays tightly clustered under z-order: a ~1% box
    # must not touch more than half the files (it touches ~1 of 16;
    # bound kept loose for sampling-partitioner variance)
    assert _files_with_matches(spark, zpath, box) <= FILES / 2


def test_zorder_files_have_tight_minmax_footers(spark, tmp_path):
    """Every z-clustered file must cover a narrow slice of BOTH
    dimensions — that's what parquet row-group min/max stats prune on."""
    df = _grid(spark)
    z = morton2(quantize(F.col("x"), 0, 999, BITS), quantize(F.col("y"), 0, 999, BITS), BITS)
    zpath = str(tmp_path / "zorder")
    _write_zordered(df, zpath, z)

    spans = (
        spark.read.parquet(zpath)
        .groupBy(F.input_file_name().alias("f"))
        .agg(
            (F.max("x") - F.min("x")).alias("dx"),
            (F.max("y") - F.min("y")).alias("dy"),
        )
        .collect()
    )
    assert len(spans) == FILES
    # average per-file span well under the full 0..999 range in BOTH
    # dimensions (a 1-D sort would leave the other dimension ~999)
    avg_dx = sum(r["dx"] for r in spans) / len(spans)
    avg_dy = sum(r["dy"] for r in spans) / len(spans)
    assert avg_dx < 600 and avg_dy < 600


def _xy2d_ref(n, x, y):
    """Pure-python reference xy2d (Hilbert distance)."""
    d = 0
    s = n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = s - 1 - x, s - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_matches_reference_and_is_a_curve(spark):
    """with_hilbert2 equals the reference implementation on the full
    16x16 grid, is a bijection onto [0, 256), and consecutive curve
    positions are grid-adjacent (the locality property Z-order lacks)."""
    from pyspark.sql import functions as F

    from distributed_mapreduce_spark.sources.layout import with_hilbert2

    bits = 4
    n = 1 << bits
    grid = spark.createDataFrame(
        [(x, y) for x in range(n) for y in range(n)], "x int, y int"
    )
    got = {
        (r.x, r.y): r.h
        for r in with_hilbert2(grid, F.col("x"), F.col("y"), bits).collect()
    }
    assert got == {
        (x, y): _xy2d_ref(n, x, y) for x in range(n) for y in range(n)
    }
    assert sorted(got.values()) == list(range(n * n))
    pos = {d: xy for xy, d in got.items()}
    for d in range(n * n - 1):
        (x1, y1), (x2, y2) = pos[d], pos[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1
