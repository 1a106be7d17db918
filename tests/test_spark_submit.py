"""Round-2: the north rule's packaging clause made real — the engine
runs via `spark-submit --py-files <zip>` as a separate process, with the
package provided ONLY through the zip (cwd is a temp dir)."""

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit")


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")
def test_spark_submit_py_files_applies_stream(spark, tmp_path):
    sys.path.insert(0, REPO)
    from oregonwaterdataportal_etl_spark.cdc import generate_changes

    from package import build

    stream = str(tmp_path / "stream")
    generate_changes(spark, n_events=4000, n_convs=100, seed=3).write.parquet(stream)
    zip_path = build(str(tmp_path / "pkg.zip"))

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    out_log = tmp_path / "out.log"
    with open(out_log, "w") as out:
        subprocess.run(
            [
                SPARK_SUBMIT,
                "--master", "local[2]",
                "--conf", "spark.ui.enabled=false",
                "--conf", "spark.sql.session.timeZone=UTC",
                "--py-files", zip_path,
                os.path.join(REPO, "jobs", "apply_changes.py"),
                stream,
                str(tmp_path / "table"),
                str(tmp_path / "offsets"),
                str(tmp_path / "manifests"),
                "2000",
            ],
            cwd=str(tmp_path),  # the package is reachable ONLY via the zip
            env=env,
            stdout=out,
            stderr=subprocess.DEVNULL,
            check=True,
            timeout=300,
        )
    lines = [l for l in out_log.read_text().splitlines() if l.startswith("{")]
    assert lines, "job printed no metrics"
    m = json.loads(lines[-1])
    assert m["windows_applied"] == 2
    assert m["final_offset"] == 3999
    assert m["rows_final"] > 0

    # the maintenance job runs against the same table through the same
    # packaging surface (compact + vacuum; no offsets -> no expiry)
    out_log2 = tmp_path / "out2.log"
    with open(out_log2, "w") as out:
        subprocess.run(
            [
                SPARK_SUBMIT,
                "--master", "local[2]",
                "--conf", "spark.ui.enabled=false",
                "--conf", "spark.sql.session.timeZone=UTC",
                "--py-files", zip_path,
                os.path.join(REPO, "jobs", "maintain.py"),
                str(tmp_path / "table"),
                str(tmp_path / "offsets"),
                "3",
                "--rebucket=8",
            ],
            cwd=str(tmp_path),
            env=env,
            stdout=out,
            stderr=subprocess.DEVNULL,
            check=True,
            timeout=300,
        )
    lines2 = [l for l in out_log2.read_text().splitlines() if l.startswith("{")]
    assert lines2, "maintain job printed no metrics"
    mm = json.loads(lines2[-1])
    assert mm["rows_base"] == m["rows_final"]
    assert mm["base_files_after"] <= max(mm["base_files_before"], 1)
    assert mm["num_buckets"] == 8  # --rebucket=8 evolved the layout

    # the replication job follows the same table through the same
    # packaging surface (changelog follower -> replica); run TWICE:
    # first hop replicates everything, second is a caught-up no-op
    for expect_hops in (1, 0):
        out_log3 = tmp_path / "out3.log"
        with open(out_log3, "w") as out:
            subprocess.run(
                [
                    SPARK_SUBMIT,
                    "--master", "local[2]",
                    "--conf", "spark.ui.enabled=false",
                    "--conf", "spark.sql.session.timeZone=UTC",
                    "--py-files", zip_path,
                    os.path.join(REPO, "jobs", "replicate.py"),
                    str(tmp_path / "table"),
                    str(tmp_path / "replica"),
                    str(tmp_path / "foffsets"),
                ],
                cwd=str(tmp_path),
                env=env,
                stdout=out,
                stderr=subprocess.DEVNULL,
                check=True,
                timeout=300,
            )
        lines3 = [l for l in out_log3.read_text().splitlines() if l.startswith("{")]
        assert lines3, "replicate job printed no metrics"
        mr = json.loads(lines3[-1])
        assert len(mr["hops"]) == expect_hops
        assert mr["replica_rows"] == m["rows_final"]


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")
def test_spark_submit_bucketed_wal_zero_exchange(spark, tmp_path):
    """--bucketed-wal: the packaged job tails a bucketed-layout change
    log and every applied window goes through the zero-exchange
    merge_prebucketed path (snapshot operation labels prove it)."""
    sys.path.insert(0, REPO)
    from oregonwaterdataportal_etl_spark.cdc import generate_changes
    from oregonwaterdataportal_etl_spark.lake import LakeTable
    from oregonwaterdataportal_etl_spark.lake.bucketed import write_bucketed_wal

    from package import build

    wal = str(tmp_path / "wal")
    # the job creates its table with num_buckets=16: the WAL must match
    write_bucketed_wal(
        generate_changes(spark, n_events=4000, n_convs=100, seed=5),
        wal, 16, ["conv_id", "turn_idx"],
    )
    zip_path = build(str(tmp_path / "pkg.zip"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    out_log = tmp_path / "out.log"
    with open(out_log, "w") as out:
        subprocess.run(
            [
                SPARK_SUBMIT,
                "--master", "local[2]",
                "--conf", "spark.ui.enabled=false",
                "--conf", "spark.sql.session.timeZone=UTC",
                "--py-files", zip_path,
                os.path.join(REPO, "jobs", "apply_changes.py"),
                wal,
                str(tmp_path / "table"),
                str(tmp_path / "offsets"),
                str(tmp_path / "manifests"),
                "2000",
                "--bucketed-wal",
            ],
            cwd=str(tmp_path),
            env=env,
            stdout=out,
            stderr=subprocess.DEVNULL,
            check=True,
            timeout=300,
        )
    lines = [l for l in out_log.read_text().splitlines() if l.startswith("{")]
    m = json.loads(lines[-1])
    assert m["windows_applied"] == 2 and m["final_offset"] == 3999
    ops = [
        s.get("summary", {}).get("operation")
        for s in LakeTable(str(tmp_path / "table")).history()
        if s["version"] > 0
    ]
    assert ops == ["merge-prebucketed"] * 2, ops


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")
def test_spark_submit_envelope_ingest_and_replay(spark, tmp_path):
    """jobs/envelope_ingest.py through real spark-submit --py-files:
    first run quarantines bad_op + malformed wire rows; second run with
    --replay-dlq --op-alias recovers the bad_op rows into the table."""
    sys.path.insert(0, REPO)
    from pyspark.sql import functions as F

    from oregonwaterdataportal_etl_spark.cdc import (
        generate_changes,
        wrap_envelopes,
    )
    from oregonwaterdataportal_etl_spark.lake import LakeTable
    from package import build

    wire = wrap_envelopes(generate_changes(spark, 1500, 30, seed=13)).withColumn(
        "value",
        F.when(
            F.pmod(F.xxhash64("value"), F.lit(19)) == 0,
            F.substring("value", 1, 8),
        )
        .when(
            F.pmod(F.xxhash64("value"), F.lit(7)) == 1,
            F.regexp_replace("value", '^\\{"op":"c"', '{"op":"insert"'),
        )
        .otherwise(F.col("value")),
    )
    wire_dir = tmp_path / "wire"
    wire.coalesce(1).write.parquet(str(wire_dir / "f1"))
    zip_path = build(str(tmp_path / "pkg.zip"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable

    def run(*extra):
        out_log = tmp_path / "out.log"
        with open(out_log, "w") as out:
            subprocess.run(
                [
                    SPARK_SUBMIT,
                    "--master", "local[2]",
                    "--conf", "spark.ui.enabled=false",
                    "--py-files", zip_path,
                    os.path.join(REPO, "jobs", "envelope_ingest.py"),
                    str(wire_dir / "*"),
                    str(tmp_path / "table"),
                    str(tmp_path / "state"),
                    *extra,
                ],
                cwd=str(tmp_path),
                env=env,
                stdout=out,
                stderr=subprocess.DEVNULL,
                check=True,
                timeout=300,
            )
        lines = [l for l in out_log.read_text().splitlines() if l.startswith("{")]
        assert lines, "job printed no metrics"
        return json.loads(lines[-1])

    m1 = run()
    assert m1["rows"] > 0 and m1["dlq_rows"] > 0
    m2 = run("--replay-dlq", "--op-alias=insert:insert")
    assert m2["replay"]["recovered"] > 0
    assert m2["replay"]["still_dead"] == m2["dlq_rows"] < m1["dlq_rows"]
    assert m2["rows"] >= m1["rows"]
    assert LakeTable(str(tmp_path / "table")).read(spark).count() == m2["rows"]


def test_envelope_ingest_rejects_unknown_flags(monkeypatch):
    """jobs/envelope_ingest.py exits naming a --flag it does not know
    (a stale --zx, a typo) and printing the usage line, before any
    SparkSession starts: no flag falls through into the positional
    args, where it would be parsed as the payload schema JSON."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "envelope_ingest", os.path.join(REPO, "jobs", "envelope_ingest.py")
    )
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    monkeypatch.setattr(job, "SparkSession", None)  # building one raises
    for flag in ("--zx", "--replay"):
        monkeypatch.setattr(
            sys, "argv", ["envelope_ingest.py", "wire/*", "t", "state", flag]
        )
        with pytest.raises(SystemExit, match=rf"unknown flag {flag}\nusage: "):
            job.main()
