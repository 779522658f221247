"""Z-order layout: both dimensions must gain file-level locality
(the property that turns parquet min/max stats into 2-D pruning)."""

from __future__ import annotations

from pyspark.sql import functions as F

from machine_telemetry_etl_ml_pipeline_spark.operators.layout import zorder_write
from machine_telemetry_etl_ml_pipeline_spark.sources.catalog import load_table


def _per_file_ranges(spark, path, a, b):
    df = spark.read.parquet(path)
    per = (
        df.groupBy(F.input_file_name().alias("f"))
        .agg(
            (F.max(a) - F.min(a)).cast("double").alias("ra"),
            (F.max(b) - F.min(b)).cast("double").alias("rb"),
        )
        .agg(F.avg("ra").alias("ra"), F.avg("rb").alias("rb"))
        .first()
    )
    g = df.agg(
        (F.max(a) - F.min(a)).cast("double").alias("ga"),
        (F.max(b) - F.min(b)).cast("double").alias("gb"),
    ).first()
    return per.ra / g.ga, per.rb / g.gb


def test_zorder_localizes_both_dimensions(spark, tmp_path):
    e = load_table(spark, "/root/testdata/sf0.01", "events").select("user_id", "value")

    zpath = str(tmp_path / "zorder")
    zorder_write(e, "user_id", "value", zpath, num_files=8)
    za, zb = _per_file_ranges(spark, zpath, "user_id", "value")

    # contrast: single-column sort localizes user_id perfectly but
    # leaves value at ~full range per file
    spath = str(tmp_path / "sorted")
    (
        e.repartitionByRange(8, "user_id")
        .sortWithinPartitions("user_id")
        .write.mode("overwrite")
        .parquet(spath)
    )
    sa, sb = _per_file_ranges(spark, spath, "user_id", "value")

    # z-order: BOTH dims localized (each file ~a sub-rectangle)
    assert za < 0.6, (za, zb)
    assert zb < 0.6, (za, zb)
    # z-order clearly beats the single-column sort on the second
    # dimension (the one the sort cannot localize)
    assert zb < 0.8 * sb, (zb, sb)


def test_manifest_prunes_files_and_preserves_results(spark, tmp_path):
    """Manifest-pruned read: correctness (identical rows to a full
    filter) AND pruning (fewer files opened than exist) on a Z-ordered
    layout — metadata pruning on BOTH clustered dimensions."""
    from machine_telemetry_etl_ml_pipeline_spark.operators.manifest import (
        build_manifest,
        pruned_read,
    )

    e = load_table(spark, "/root/testdata/sf0.01", "events").select(
        "event_id", "user_id", "value"
    )
    zpath = str(tmp_path / "ztab")
    mpath = str(tmp_path / "manifest")
    zorder_write(e, "user_id", "value", zpath, num_files=8)
    build_manifest(spark, zpath, ["user_id", "value"], mpath)

    for col, lo, hi in [("user_id", 10, 30), ("value", 150.0, 199.0)]:
        got = pruned_read(spark, zpath, mpath, col, lo, hi)
        expect = spark.read.parquet(zpath).filter(F.col(col).between(lo, hi))
        assert sorted(r.event_id for r in got.collect()) == sorted(
            r.event_id for r in expect.collect()
        )
        opened = got.select(F.input_file_name()).distinct().count()
        assert opened < 8, (col, opened)  # pruning actually happened

    # empty-range predicate opens nothing and returns nothing
    assert pruned_read(spark, zpath, mpath, "user_id", 10_000, 20_000).count() == 0


def test_manifest_entry_window_is_checked_and_pruned_at_smallest_sf(spark, monkeypatch):
    """ext_manifest_pruned_scan at sf0.001: its user window holds rows
    (the oracle compares something), and the manifest opens fewer than
    the 8 files the entry writes (the read really prunes)."""
    import glob

    from machine_telemetry_etl_ml_pipeline_spark.operators import manifest
    from machine_telemetry_etl_ml_pipeline_spark.registry import REGISTRY

    seen = []
    real = manifest.pruned_read

    def spy(spark, table_path, *args):
        out = real(spark, table_path, *args)
        seen.append((len(out.inputFiles()), len(glob.glob(f"{table_path}/*.parquet"))))
        return out

    monkeypatch.setattr(manifest, "pruned_read", spy)
    rows = REGISTRY["ext_manifest_pruned_scan"].fn(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) > 0
    [(opened, written)] = seen
    assert written == 8
    assert 0 < opened < written
