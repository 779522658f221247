"""The PLANS.md freshness stamp is a hash of the engine code: it moves
when a package file's bytes change, and with nothing else."""

from __future__ import annotations

import shutil

from tools.plan_audit import REPO, package_hash

PKG = "machine_telemetry_etl_ml_pipeline_spark"


def test_package_hash_tracks_engine_bytes(tmp_path):
    shutil.copytree(f"{REPO}/{PKG}", tmp_path / PKG, ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(f"{REPO}/__spark_entry__.py", tmp_path)
    base = package_hash(str(tmp_path))
    assert base == package_hash(REPO)

    (tmp_path / "PLANS.md").write_text("regenerated\n")
    (tmp_path / PKG / "notes.txt").write_text("not engine code\n")
    assert package_hash(str(tmp_path)) == base

    ckpt = tmp_path / PKG / "operators" / "ckpt.py"
    src = ckpt.read_bytes()
    ckpt.write_bytes(src + b"\n")
    assert package_hash(str(tmp_path)) != base
    ckpt.write_bytes(src)
    assert package_hash(str(tmp_path)) == base
