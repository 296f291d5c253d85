"""Ingest CLI (jobs/cdc_ingest_job.py), in-process (the spark-submit
surface shares main())."""

from __future__ import annotations

import json
import sys
from pathlib import Path

from pyspark.sql import SparkSession

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "jobs"))

from hierarchical_to_relational_spark import datagen
from hierarchical_to_relational_spark.table.snapshot_table import SnapshotTable


def test_final_compact_runs_on_every_run(spark, tmp_path, capsys, monkeypatch):
    """Batch mode with --final-compact, run twice over a growing binlog:
    each run appends its batch and then compacts, so the table ends one
    dir deep (a fixed compaction id would make every later run skip it)."""
    import cdc_ingest_job as J

    monkeypatch.setattr(SparkSession, "stop", lambda self: None)  # main stops its session
    spec = datagen.BinlogSpec(n_events=120, n_convs=6, seed=11)
    stream = datagen.arrival_order(datagen.generate_events(spec), spec)
    binlog, root = str(tmp_path / "binlog"), str(tmp_path / "t")
    half = len(stream) // 2
    argv = ["--binlog-dir", binlog, "--table", root, "--checkpoint", str(tmp_path / "ck"),
            "--n-buckets", "4", "--text-mode", "none", "--final-compact"]
    datagen.write_binlog(stream.iloc[:half], binlog, n_segments=2)
    assert J.main(argv) == 0
    datagen.write_binlog(stream.iloc[half:], binlog, n_segments=2, start_segment=2)
    assert J.main(argv) == 0

    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    t = SnapshotTable(root)
    kinds = [h["kind"] for h in t.history()]
    assert kinds.count("append") == 2 and kinds.count("compact") == 2
    assert t.delta_depth() <= 1
    assert out["table_version"] == t.current_version()
