"""Source readers (SURVEY.md 2.1) + Structured Streaming CDC tail."""

import os
import zipfile

import pytest
from pyspark.sql import functions as F

from oregonwaterdataportal_etl_spark.cdc import ManifestLog, generate_changes
from oregonwaterdataportal_etl_spark.cdc.changegen import TRANSCRIPT_SCHEMA
from oregonwaterdataportal_etl_spark.lake import LakeTable
from oregonwaterdataportal_etl_spark.sources import readers
from oregonwaterdataportal_etl_spark.sources.readers import read_xlsx
from oregonwaterdataportal_etl_spark.streaming import start_cdc_stream

TSV = (
    "station_nbr\trecord_date\tinstantaneous_flow_cfs\n"
    "10371500\t01-15-2024 08:30\t17.1\n"
    "10371500\t01-16-2024\t15.2\n"
    "10371500\t01-17-2024\t\n"
)


def test_read_tsv_observations(spark, tmp_path):
    """S2 — projection, unit-from-header, null drop, format fallback
    (reference: parse_oregon_tsv, userCode/wrd/lib.py:56-102; golden
    first values 17.1/15.2 per test_upstream.py:258-275)."""
    p = tmp_path / "obs.tsv"
    p.write_text(TSV)
    df = readers.read_tsv_observations(spark, str(p))
    rows = df.orderBy("record_date").collect()
    assert [r["value"] for r in rows] == [17.1, 15.2]
    assert rows[0]["unit"] == "cfs"
    assert rows[0]["record_date"].strftime("%H:%M") == "08:30"
    # null kept when drop disabled (reference drop_rows_with_null_data)
    df2 = readers.read_tsv_observations(spark, str(p), drop_null_values=False)
    assert df2.count() == 3


def test_flatten_nested_results(spark):
    """S3 — explode the AWQMS ContinuousResults nesting."""
    data = [
        ("st1", [{"t": 1, "v": 2.0}, {"t": 2, "v": 3.0}]),
        ("st2", [{"t": 5, "v": 7.0}]),
    ]
    df = spark.createDataFrame(data, "station string, ContinuousResults array<struct<t:long,v:double>>")
    out = readers.flatten_nested_results(df, "ContinuousResults", ["station"])
    assert out.count() == 3
    assert set(out.columns) == {"station", "t", "v"}


def test_paginated_union_and_validate(spark):
    p1 = spark.createDataFrame([(1, "a")], ["id", "x"])
    p2 = spark.createDataFrame([(2, "b")], ["id", "x"])
    p3 = spark.createDataFrame([(3,)], ["id"])  # later page missing a col
    out = readers.paginated_union([p1, p2, p3])
    assert out.count() == 3 and set(out.columns) == {"id", "x"}
    readers.validate_columns(p1, ["id", "x"])
    with pytest.raises(ValueError, match="missing expected columns"):
        readers.validate_columns(p3, ["id", "x"])


def test_read_binary_attachments(spark, tmp_path):
    (tmp_path / "a.bin").write_bytes(b"hello")
    (tmp_path / "b.bin").write_bytes(b"world!")
    df = readers.read_binary_attachments(spark, str(tmp_path / "*.bin"))
    got = {os.path.basename(r["path"]): bytes(r["content"]) for r in df.collect()}
    assert got == {"a.bin": b"hello", "b.bin": b"world!"}


def _handmade_xlsx(path):
    """Two-sheet xlsx written with stdlib zipfile: shared strings,
    inline strings, numbers, booleans, and a skipped (sparse) cell."""
    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    rns = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    workbook = f"""<?xml version="1.0"?>
<workbook {ns} xmlns:r="{rns}"><sheets>
  <sheet name="sites" sheetId="1" r:id="rId1"/>
  <sheet name="data" sheetId="2" r:id="rId2"/>
  <sheet name="blank" sheetId="3" r:id="rId3"/>
</sheets></workbook>"""
    rels = f"""<?xml version="1.0"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
  <Relationship Id="rId1" Type="{rns}/worksheet" Target="worksheets/sheet1.xml"/>
  <Relationship Id="rId2" Type="{rns}/worksheet" Target="worksheets/sheet2.xml"/>
  <Relationship Id="rId3" Type="{rns}/worksheet" Target="worksheets/sheet3.xml"/>
</Relationships>"""
    sst = f"""<?xml version="1.0"?>
<sst {ns} count="3" uniqueCount="3">
  <si><t>site_id</t></si><si><t>name</t></si><si><t>Upper Gauge</t></si>
</sst>"""
    sheet1 = f"""<?xml version="1.0"?>
<worksheet {ns}><sheetData>
  <row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>
  <row r="2"><c r="A2" t="str"><v>S1</v></c><c r="B2" t="s"><v>2</v></c></row>
</sheetData></worksheet>"""
    sheet2 = f"""<?xml version="1.0"?>
<worksheet {ns}><sheetData>
  <row r="1"><c r="A1" t="str"><v>site</v></c><c r="B1" t="str"><v>value</v></c>
              <c r="C1" t="str"><v>ok</v></c></row>
  <row r="2"><c r="A2" t="inlineStr"><is><t>S1</t></is></c><c r="B2"><v>12.5</v></c>
              <c r="C2" t="b"><v>1</v></c></row>
  <row r="3"><c r="A3" t="str"><v>S1</v></c><c r="C3" t="b"><v>0</v></c></row>
  <row r="4"><c r="A4" t="str"><v>S2</v></c><c r="B4" t="e"><v>#DIV/0!</v></c>
              <c r="C4" t="b"><v>1</v></c></row>
</sheetData></worksheet>"""
    sheet3 = f'<?xml version="1.0"?><worksheet {ns}><sheetData/></worksheet>'
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("xl/workbook.xml", workbook)
        z.writestr("xl/_rels/workbook.xml.rels", rels)
        z.writestr("xl/sharedStrings.xml", sst)
        z.writestr("xl/worksheets/sheet1.xml", sheet1)
        z.writestr("xl/worksheets/sheet2.xml", sheet2)
        z.writestr("xl/worksheets/sheet3.xml", sheet3)


def test_read_xlsx_native(spark, tmp_path):
    # openpyxl must genuinely be absent for this container's fallback
    with pytest.raises(ImportError):
        import openpyxl  # noqa: F401
    p = str(tmp_path / "wb.xlsx")
    _handmade_xlsx(p)
    frames = read_xlsx(spark, p)
    # fully blank sheet dropped instead of breaking schema inference
    assert set(frames) == {"sites", "data"}
    sites = frames["sites"].collect()
    assert sites[0]["site_id"] == "S1" and sites[0]["name"] == "Upper Gauge"
    data = {r["site"]: r for r in frames["data"].collect() if r["value"] == 12.5}
    assert data["S1"]["ok"] is True
    rows = frames["data"].collect()
    assert len(rows) == 3
    # error cell (#DIV/0!) -> null, not a crash
    s2 = [r for r in rows if r["site"] == "S2"][0]
    assert s2["value"] is None and s2["ok"] is True
    only = read_xlsx(spark, p, sheets=["data"])
    assert set(only) == {"data"}


def _run_stream(spark, stream_dir, table, ckpt, manifests):
    """One AvailableNow pass of start_cdc_stream: the files appended
    since the last pass become the new micro-batch(es)."""
    q = start_cdc_stream(spark, stream_dir, table, ckpt, manifests, available_now=True)
    q.awaitTermination(180)
    return q


def _rows(spark, t, *order):
    return t.read(spark).orderBy(*order).collect()


def test_streaming_cdc_tail(spark, tmp_path):
    """readStream file tail -> foreachBatch MERGE; final state equals a
    direct batch apply of the same stream."""
    changes = generate_changes(spark, n_events=3000, n_convs=200, seed=11)
    stream_dir = str(tmp_path / "stream")
    changes.write.mode("overwrite").parquet(stream_dir)

    t_stream = LakeTable.create(
        str(tmp_path / "t_stream"), TRANSCRIPT_SCHEMA, key_cols=["conv_id", "turn_idx"], num_buckets=8
    )
    manifests = ManifestLog(str(tmp_path / "manifests"))
    q = start_cdc_stream(
        spark, stream_dir, t_stream, str(tmp_path / "ckpt"), manifests, available_now=True
    )
    q.awaitTermination(120)

    t_batch = LakeTable.create(
        str(tmp_path / "t_batch"), TRANSCRIPT_SCHEMA, key_cols=["conv_id", "turn_idx"], num_buckets=8
    )
    t_batch.merge(spark.read.parquet(stream_dir))

    a = t_stream.read(spark).orderBy("conv_id", "turn_idx").collect()
    b = t_batch.read(spark).orderBy("conv_id", "turn_idx").collect()
    assert a == b and len(a) > 0
    assert manifests.all() and all(m["status"] == "committed" for m in manifests.all())


def test_streaming_zx_tail(spark, tmp_path):
    """Multi-batch tail of start_cdc_stream across restarts (the checks
    of the removed zero-exchange stream tail, kept under its name). Each
    AvailableNow pass applies the file appended since the last one, so
    the second micro-batch merges against a non-empty base and
    tombstones. A micro-batch that the checkpoint replays after its
    manifest committed (a crash between the two commits) is a manifest
    no-op, the new file lands, and the final state equals a direct
    batch apply of the same stream."""
    c1 = generate_changes(spark, n_events=2500, n_convs=150, seed=21)
    c2 = generate_changes(spark, n_events=1500, n_convs=150, seed=22, lsn_start=2500)
    c3 = generate_changes(spark, n_events=1000, n_convs=150, seed=23, lsn_start=4000)
    stream_dir = str(tmp_path / "stream")
    ckpt = str(tmp_path / "ckpt")
    t_stream = LakeTable.create(
        str(tmp_path / "t_stream"), TRANSCRIPT_SCHEMA, key_cols=["conv_id", "turn_idx"], num_buckets=8
    )
    manifests = ManifestLog(str(tmp_path / "manifests"))

    c1.coalesce(1).write.mode("append").parquet(stream_dir)
    _run_stream(spark, stream_dir, t_stream, ckpt, manifests)
    assert t_stream.stats()["tombstone_files"] > 0
    c2.coalesce(1).write.mode("append").parquet(stream_dir)
    _run_stream(spark, stream_dir, t_stream, ckpt, manifests)
    assert len(manifests.all()) == 2

    # crash after batch 1's manifest commit, before its checkpoint commit
    for name in ("1", ".1.crc"):
        path = os.path.join(ckpt, "commits", name)
        if os.path.exists(path):
            os.remove(path)
    v = t_stream.current_version()
    c3.coalesce(1).write.mode("append").parquet(stream_dir)
    q = _run_stream(spark, stream_dir, t_stream, ckpt, manifests)
    assert 1 in [p.batchId for p in q.recentProgress]  # batch 1 replayed
    assert t_stream.current_version() == v + 1  # ... and only c3 merged
    assert len(manifests.all()) == 3
    assert all(m["status"] == "committed" for m in manifests.all())

    t_batch = LakeTable.create(
        str(tmp_path / "t_batch"), TRANSCRIPT_SCHEMA, key_cols=["conv_id", "turn_idx"], num_buckets=8
    )
    t_batch.merge(spark.read.parquet(stream_dir))
    a = _rows(spark, t_stream, "conv_id", "turn_idx")
    assert a == _rows(spark, t_batch, "conv_id", "turn_idx") and len(a) > 0


def test_streaming_cdc_folds_pending_mor_deltas(spark, tmp_path):
    """A table carrying pending merge-on-read deltas when the stream
    starts: the first micro-batch's copy-on-write merge folds the
    deltas of every bucket it touches (no compact needed), and the
    final state equals the batch path."""
    pre = generate_changes(spark, n_events=2000, n_convs=120, seed=31)
    tail = generate_changes(
        spark, n_events=1200, n_convs=120, seed=32, lsn_start=2000
    )
    stream_dir = str(tmp_path / "mstream")
    tail.coalesce(1).write.parquet(stream_dir)

    t = LakeTable.create(
        str(tmp_path / "mt"), TRANSCRIPT_SCHEMA,
        key_cols=["conv_id", "turn_idx"], num_buckets=8,
    )
    t.merge(pre, mode="mor")
    assert t.snapshot().get("deltas")

    manifests = ManifestLog(str(tmp_path / "mman"))
    _run_stream(spark, stream_dir, t, str(tmp_path / "mckpt"), manifests)
    (m,) = manifests.all()
    touched = {str(b) for b in m["metrics"]["touched_buckets"]}
    assert touched
    assert not touched & set(t.snapshot().get("deltas") or {})

    t_batch = LakeTable.create(
        str(tmp_path / "mt_b"), TRANSCRIPT_SCHEMA,
        key_cols=["conv_id", "turn_idx"], num_buckets=8,
    )
    t_batch.merge(pre)
    t_batch.merge(tail)
    a = _rows(spark, t, "conv_id", "turn_idx")
    assert a == _rows(spark, t_batch, "conv_id", "turn_idx") and len(a) > 0


def test_streaming_cdc_partitioned_tree(spark, tmp_path):
    """start_cdc_stream pointed at a time-partitioned LakeTable: each
    micro-batch routes through the table's merge; the state equals a
    twin table fed by batch merges, also after a restart that picks up
    a newly appended file."""
    from oregonwaterdataportal_etl_spark.lake import LakeTable

    def spread_days(df):
        # conv-stable day offset so routing is deterministic per key
        return df.withColumn(
            "ts", F.expr("timestampadd(DAY, int(crc32(conv_id) % 3), ts)")
        )

    def create(name):
        return LakeTable.create(
            str(tmp_path / name), TRANSCRIPT_SCHEMA,
            key_cols=["conv_id", "turn_idx"], partition_col="ts", num_buckets=4,
        )

    stream_dir = str(tmp_path / "pstream")
    ckpt, manifests = str(tmp_path / "pckpt"), ManifestLog(str(tmp_path / "pman"))
    tree, twin = create("t_pt"), create("t_pttwin")
    order = ("conv_id", "turn_idx", "ts")
    for i, (n, lsn_start) in enumerate(((2000, 0), (1200, 2000))):
        c = spread_days(generate_changes(
            spark, n_events=n, n_convs=120, seed=31 + i, lsn_start=lsn_start
        )).localCheckpoint()
        c.coalesce(1).write.mode("append").parquet(stream_dir)
        _run_stream(spark, stream_dir, tree, ckpt, manifests)
        twin.merge(c)
        a = _rows(spark, tree, *order)
        assert a == _rows(spark, twin, *order) and len(a) > 0
    assert len(tree.partitions()) >= 2  # the stream really spread days
    assert len(manifests.all()) == 2
