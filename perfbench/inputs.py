"""The benchmark's input tables.

``data/sf0.01`` is a byte-identical copy of the engine's read-only sf0.01
testdata, pinned by ``data/sf0.01.manifest.json`` (size and sha256 per file)
so a run can prove which bytes it read. The N-fold stage is built from that
copy with ``scale_check.build_stage`` (key-shifted replication) and cached
under the checkout; its manifest records the copy count and the source file
sizes, and a stage whose manifest differs is rebuilt.
"""

from __future__ import annotations

import hashlib
import json
import shutil
import subprocess
import sys
import time
from pathlib import Path

DATA = Path(__file__).resolve().parent / "data"
SOURCE = DATA / "sf0.01"
SOURCE_MANIFEST = DATA / "sf0.01.manifest.json"


def check_source() -> dict:
    """Return the pinned manifest after checking every file against it."""
    manifest = json.loads(SOURCE_MANIFEST.read_text())
    for name, want in manifest.items():
        blob = (SOURCE / name).read_bytes()
        got = {"bytes": len(blob), "sha256": hashlib.sha256(blob).hexdigest()}
        if got != want:
            raise ValueError(f"{SOURCE / name} does not match {SOURCE_MANIFEST.name}")
    return manifest


def data_dir(cache: Path, copies: int) -> tuple[Path, float]:
    """The tables a workload reads, and the seconds spent building them now
    (0.0 unless a ``copies``-fold stage had to be built)."""
    if copies == 1:
        return SOURCE, 0.0
    stage = cache / f"stage_x{copies}"
    manifest = stage / "manifest.json"
    if manifest.exists() and json.loads(manifest.read_text()) == _stage_manifest(copies):
        return stage, 0.0
    # A process of its own, so that building the stage leaves no trace in
    # the measured JVM.
    t0 = time.perf_counter()
    subprocess.run([sys.executable, __file__, str(stage), str(copies)], check=True)
    return stage, time.perf_counter() - t0


def _stage_manifest(copies: int) -> dict:
    return {
        "copies": copies,
        "source_bytes": {p.name: p.stat().st_size for p in sorted(SOURCE.glob("*.parquet"))},
    }


def _build_stage(stage: Path, copies: int) -> None:
    import scale_check  # the repository root is on PYTHONPATH (run.py)
    from bigdatainfinance1_spark.session import get_spark

    spark = get_spark(app_name="perfbench-stage")
    building = stage.with_name(stage.name + ".building")
    shutil.rmtree(building, ignore_errors=True)
    scale_check.BASE_SF, scale_check.STAGE, scale_check.COPIES = str(SOURCE), str(building), copies
    scale_check.build_stage(spark)
    stop_spark(spark)
    (building / "manifest.json").write_text(json.dumps(_stage_manifest(copies), indent=1) + "\n")
    shutil.rmtree(stage, ignore_errors=True)
    building.rename(stage)


def stop_spark(spark) -> None:
    """Stop the session and wait for its gateway JVM, which exits on EOF."""
    from pyspark import SparkContext

    jvm = SparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()
    jvm.wait(timeout=120)


def describe(data_dir: Path, root: Path) -> dict:
    """Provenance of one data directory: per table, files and bytes read."""
    tables = {}
    for table in sorted(data_dir.glob("*.parquet")):
        files = [table] if table.is_file() else sorted(table.glob("*.parquet"))
        tables[table.name] = {"files": len(files), "bytes": sum(f.stat().st_size for f in files)}
    return {"dir": str(data_dir.relative_to(root)), "tables": tables}


if __name__ == "__main__":
    _build_stage(Path(sys.argv[1]), int(sys.argv[2]))
