"""LakeTable.read_changes — incremental changelog between snapshots
(Delta CDF / Iceberg changelog analog). The reference has no changelog
emission; this is the engine's downstream-consumer surface, value-gated
in the driver via the `cdc_changelog` query."""

import pytest
from pyspark.sql import functions as F

from oregonwaterdataportal_etl_spark.cdc.changegen import (
    TRANSCRIPT_SCHEMA,
    generate_changes_pdf,
)
from oregonwaterdataportal_etl_spark.lake import LakeTable

KEYS = ["conv_id", "turn_idx"]


def _stream(spark, n, seed, lsn_start=0, delete_rate=0.08):
    pdf = generate_changes_pdf(
        n, max(n // 30, 10), seed=seed, out_of_order=0.3,
        delete_rate=delete_rate,
    )
    df = spark.createDataFrame(pdf)
    if lsn_start:
        df = df.withColumn("lsn", F.col("lsn") + lsn_start)
    return df.localCheckpoint()


def _brute_diff(spark, t, v1, v2):
    """Expected net change set computed the dumb way from two full
    time-travel reads."""
    cols = ["conv_id", "turn_idx", "text", "role"]
    a = t.read(spark, version=v1).select(*cols)
    b = t.read(spark, version=v2).select(*cols)
    ins = {tuple(r[:2]) for r in b.join(a.select(*KEYS), KEYS, "left_anti").collect()}
    dele = {tuple(r[:2]) for r in a.join(b.select(*KEYS), KEYS, "left_anti").collect()}
    upd = {
        (r["conv_id"], r["turn_idx"])
        for r in b.alias("b").join(a.alias("a"), KEYS)
        .filter("b.text <> a.text OR b.role <> a.role").collect()
    }
    return ins, upd, dele


def _changes(spark, t, v1, v2=None):
    out = {}
    for r in t.read_changes(spark, v1, v2).collect():
        out.setdefault(r["_change_type"], set()).add(
            (r["conv_id"], r["turn_idx"])
        )
    return (out.get("insert", set()), out.get("update", set()),
            out.get("delete", set()))


def test_changelog_matches_brute_diff_over_chained_versions(spark, tmp_path):
    """Three merges (cow, mor, cow); every (v_i, v_j) pair's changelog
    equals the brute-force diff of the two time-travel reads —
    including ranges spanning multiple commits and pending deltas."""
    from oregonwaterdataportal_etl_spark.cdc.changegen import (
        TRANSCRIPT_DICT_COLS,
    )

    # dict_cols on purpose: the changelog's resolve substrate must
    # decode transit-encoded columns identically on both sides
    t = LakeTable.create(
        str(tmp_path / "t"), TRANSCRIPT_SCHEMA, KEYS, num_buckets=4,
        dict_cols=TRANSCRIPT_DICT_COLS,
    )
    t.merge(_stream(spark, 2500, seed=91))
    v1 = t.current_version()
    t.merge(_stream(spark, 1200, seed=92, lsn_start=2500), mode="mor")
    v2 = t.current_version()
    t.merge(_stream(spark, 900, seed=93, lsn_start=3700))
    v3 = t.current_version()
    for a, b in [(v1, v2), (v2, v3), (v1, v3)]:
        ins, upd, dele = _changes(spark, t, a, b)
        eins, eupd, edele = _brute_diff(spark, t, a, b)
        assert ins == eins, (a, b, "insert")
        assert upd == eupd, (a, b, "update")
        assert dele == edele, (a, b, "delete")
    # same-version range is empty, wrong order raises
    assert t.read_changes(spark, v2, v2).count() == 0
    with pytest.raises(ValueError, match="from_version"):
        t.read_changes(spark, v3, v1)


def test_changelog_delete_preimage_and_commit_lsn(spark, tmp_path):
    """Deletes carry the from-version pre-image payload and the delete
    event's LSN; inserts/updates carry the post-image and winner LSN."""
    rows1 = [
        ("insert", 0, "c1", 0, "user", "hello", None, None),
        ("insert", 1, "c1", 1, "tool", "world", "bash", None),
    ]
    rows2 = [
        ("delete", 10, "c1", 0, None, None, None, None),
        ("update", 11, "c1", 1, "tool", "world2", "bash", None),
        ("insert", 12, "c2", 0, "user", "new", None, None),
    ]
    from oregonwaterdataportal_etl_spark.cdc.changegen import CHANGE_SCHEMA

    t = LakeTable.create(
        str(tmp_path / "t"), TRANSCRIPT_SCHEMA, KEYS, num_buckets=2
    )
    t.merge(spark.createDataFrame(rows1, CHANGE_SCHEMA))
    v1 = t.current_version()
    t.merge(spark.createDataFrame(rows2, CHANGE_SCHEMA))
    got = {
        (r["conv_id"], r["turn_idx"]): r
        for r in t.read_changes(spark, v1).collect()
    }
    d = got[("c1", 0)]
    assert d["_change_type"] == "delete"
    assert d["text"] == "hello" and d["role"] == "user"  # pre-image
    assert d["_commit_lsn"] == 10
    u = got[("c1", 1)]
    assert u["_change_type"] == "update" and u["text"] == "world2"
    assert u["_commit_lsn"] == 11
    i = got[("c2", 0)]
    assert i["_change_type"] == "insert" and i["_commit_lsn"] == 12
    # a stale replay below the watermark produces NO changelog rows
    v2 = t.current_version()
    t.merge(spark.createDataFrame(rows1, CHANGE_SCHEMA))
    assert t.read_changes(spark, v2).count() == 0


def test_changelog_across_rebucket_and_evolution(spark, tmp_path):
    """A rebucket (bucket ids incomparable across layouts) and an
    additive schema evolution between the versions: the changelog
    still matches the brute diff, and evolved columns null-fill on
    pre-evolution pre-images."""
    t = LakeTable.create(
        str(tmp_path / "t"), TRANSCRIPT_SCHEMA, KEYS, num_buckets=4
    )
    t.merge(_stream(spark, 2000, seed=94))
    v1 = t.current_version()
    t.rebucket(spark, 8)
    b2 = _stream(spark, 800, seed=95, lsn_start=2000).withColumn(
        "tool_meta", F.concat(F.lit("m-"), F.col("conv_id"))
    )
    t.merge(b2)
    v2 = t.current_version()
    ins, upd, dele = _changes(spark, t, v1, v2)
    eins, eupd, edele = _brute_diff(spark, t, v1, v2)
    assert (ins, upd, dele) == (eins, eupd, edele)
    ch = t.read_changes(spark, v1, v2)
    assert "tool_meta" in ch.columns
    # pre-images predate the evolution -> evolved column nulls on deletes
    assert ch.filter(
        (F.col("_change_type") == "delete") & F.col("tool_meta").isNotNull()
    ).count() == 0


def test_changelog_survives_tombstone_expiry(spark, tmp_path):
    """A delete whose tombstone is expired before the changelog is read
    still surfaces as a delete (the full-outer prev-side arm), with a
    null commit LSN — the honest 'the LSN is gone' signal."""
    from oregonwaterdataportal_etl_spark.cdc.changegen import CHANGE_SCHEMA

    t = LakeTable.create(
        str(tmp_path / "t"), TRANSCRIPT_SCHEMA, KEYS, num_buckets=2
    )
    t.merge(spark.createDataFrame(
        [("insert", 0, "c1", 0, "user", "a", None, None),
         ("insert", 1, "c2", 0, "user", "b", None, None)], CHANGE_SCHEMA))
    v1 = t.current_version()
    t.merge(spark.createDataFrame(
        [("delete", 10, "c1", 0, None, None, None, None)], CHANGE_SCHEMA))
    # expire the tombstone (watermark past the delete LSN)
    t.expire_tombstones(spark, below_lsn=100)
    assert t.stats()["tombstone_files"] == 0
    got = {(r["conv_id"], r["turn_idx"]): r
           for r in t.read_changes(spark, v1).collect()}
    assert set(got) == {("c1", 0)}
    assert got[("c1", 0)]["_change_type"] == "delete"
    assert got[("c1", 0)]["_commit_lsn"] is None


def test_changelog_scans_only_touched_buckets(spark, tmp_path):
    """The pruning claim, pinned on runtime scan metrics: a
    single-conversation change against a many-bucket table reads only
    the touched bucket's files on BOTH sides of the changelog join —
    cost scales with the change, not the table."""
    from oregonwaterdataportal_etl_spark.cdc.changegen import CHANGE_SCHEMA

    t = LakeTable.create(
        str(tmp_path / "t"), TRANSCRIPT_SCHEMA, KEYS, num_buckets=16
    )
    t.merge(_stream(spark, 4000, seed=96, delete_rate=0.0))
    v1 = t.current_version()
    key = t.read(spark).select(*KEYS).orderBy(*KEYS).first()
    t.merge(spark.createDataFrame(
        [("update", 99999, key["conv_id"], key["turn_idx"], "user",
          "patched", None, None)],
        CHANGE_SCHEMA,
    ))
    # AQE wraps the join plan and hides leaf metrics from
    # collectLeaves(); the pruning under test is static (file listing),
    # not adaptive, so pin it with AQE off
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        ch = t.read_changes(spark, v1)
        rows = ch.collect()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert [(r["conv_id"], r["turn_idx"], r["_change_type"]) for r in rows] \
        == [(key["conv_id"], key["turn_idx"], "update")]

    plan = ch._jdf.queryExecution().executedPlan()
    leaves = plan.collectLeaves()
    files_read = 0
    for i in range(leaves.size()):
        m = leaves.apply(i).metrics()
        if m.contains("numFiles"):
            files_read += m.apply("numFiles").value()
    total = sum(
        len(fl)
        for snap in (t.snapshot(v1), t.snapshot())
        for coll in (snap["files"], snap.get("tombstones", {}))
        for fl in coll.values()
    )
    # both sides together must read far fewer files than the two full
    # snapshots hold (16 buckets -> ~1/16 per side)
    assert files_read <= max(total // 4, 4), (files_read, total)
    assert files_read >= 1


# ------------------------------------------------------- follower chain
def test_changelog_follower_replicates_table(spark, tmp_path):
    """Table-to-table CDC chain: source ingests windows through the
    runner; a ChangelogFollower incrementally replicates to a replica
    via read_changes. After every hop the replica equals the source;
    redelivery after a simulated crash (sink ran, offset commit lost)
    is absorbed by the replica's LSN guard; a caught-up follower is a
    no-op."""
    from oregonwaterdataportal_etl_spark.cdc import (
        CdcRunner, ChangelogFollower, ManifestLog, OffsetLog,
        replicate_available,
    )
    from oregonwaterdataportal_etl_spark.cdc.follower import make_replica_sink

    stream = _stream(spark, 6000, seed=101)
    stream_dir = str(tmp_path / "stream")
    stream.write.parquet(stream_dir)
    src = LakeTable.create(
        str(tmp_path / "src"), TRANSCRIPT_SCHEMA, KEYS, num_buckets=4
    )
    runner = CdcRunner(
        src,
        OffsetLog(str(tmp_path / "roff"), "s1"),
        ManifestLog(str(tmp_path / "rman")),
        source=lambda: spark.read.parquet(stream_dir),
        mode="mor",
        compact_every=2,
    )
    replica = LakeTable.create(
        str(tmp_path / "replica"), TRANSCRIPT_SCHEMA, KEYS, num_buckets=8
    )  # different bucket count on purpose: replication is logical
    foff = OffsetLog(str(tmp_path / "foff"), "follower")

    def state(t):
        cols = ["conv_id", "turn_idx", "text", "role", "tool"]
        return sorted(map(tuple, t.read(spark).select(*cols).collect()))
    lo = 0
    for hi in (1999, 3999, 5999):
        runner.run_window(lo, hi)
        lo = hi + 1
        hops = replicate_available(spark, src, replica, foff)
        assert hops, "follower should have work after a source window"
        assert state(replica) == state(src)

    # caught up -> no-op
    assert replicate_available(spark, src, replica, foff) == []

    # crash between sink and offset commit: rebuild the follower and
    # deliver the LAST range again manually — replica must not change
    last_from = foff.last_lsn()
    f = ChangelogFollower(
        src, OffsetLog(str(tmp_path / "foff2"), "f2"),
        make_replica_sink(replica, src), start_version=0,
    )
    # fresh follower with start_version=0 redelivers EVERYTHING as one
    # range; the replica absorbs it as a pure no-op
    before = state(replica)
    f.run_available(spark)
    assert state(replica) == before == state(src)
    assert last_from == src.current_version()


def test_follower_propagates_schema_evolution(spark, tmp_path):
    """An additive column landing on the source mid-stream reaches the
    replica through the changelog chain: the replica's merge evolves
    its schema from the changelog payload, pre-evolution rows
    null-fill, and states stay equal."""
    from oregonwaterdataportal_etl_spark.cdc import (
        OffsetLog, replicate_available,
    )

    src = LakeTable.create(
        str(tmp_path / "src"), TRANSCRIPT_SCHEMA, KEYS, num_buckets=4
    )
    replica = LakeTable.create(
        str(tmp_path / "rep"), TRANSCRIPT_SCHEMA, KEYS, num_buckets=4
    )
    off = OffsetLog(str(tmp_path / "off"), "f")

    src.merge(_stream(spark, 1500, seed=111))
    replicate_available(spark, src, replica, off)

    evolved = _stream(spark, 800, seed=112, lsn_start=1500).withColumn(
        "tool_meta", F.concat(F.lit("m-"), F.col("conv_id"))
    )
    src.merge(evolved)
    replicate_available(spark, src, replica, off)

    assert "tool_meta" in [f.name for f in replica.schema().fields]
    cols = ["conv_id", "turn_idx", "text", "tool_meta"]
    a = sorted(map(tuple, src.read(spark).select(*cols).collect()))
    b = sorted(map(tuple, replica.read(spark).select(*cols).collect()))
    assert a == b and len(a) > 0
    # rows untouched since before the evolution carry nulls on both
    assert (
        replica.read(spark).filter(F.col("tool_meta").isNull()).count()
        == src.read(spark).filter(F.col("tool_meta").isNull()).count()
        > 0
    )


def test_changelog_from_vacuumed_version_errors_clearly(spark, tmp_path):
    """A follower whose recorded version was expired by vacuum gets a
    ValueError naming the recovery path, not a FileNotFoundError from
    deep inside snapshot loading."""
    t = LakeTable.create(
        str(tmp_path / "t"), TRANSCRIPT_SCHEMA, KEYS, num_buckets=2
    )
    t.merge(_stream(spark, 500, seed=121))
    v1 = t.current_version()
    t.merge(_stream(spark, 300, seed=122, lsn_start=500))
    t.merge(_stream(spark, 300, seed=123, lsn_start=800))
    t.vacuum(keep_last=1, orphan_grace_seconds=0)
    with pytest.raises(ValueError, match="expired by vacuum"):
        t.read_changes(spark, v1)
    # the bootstrap full sync still works against the synthetic origin
    assert t.read_changes(spark, 0).count() > 0


def test_changelog_matches_null_keys_null_safely(spark, tmp_path):
    """Null key values are ordinary keys: inserts, updates and deletes
    of (None, 7) and (None, None), beside non-null keys, classify and
    carry pre-images exactly like any other key, across a cow hop, a
    MOR hop and the two together."""
    from oregonwaterdataportal_etl_spark.cdc.changegen import CHANGE_SCHEMA

    t = LakeTable.create(
        str(tmp_path / "t"), TRANSCRIPT_SCHEMA, KEYS, num_buckets=4
    )

    def merge(mode, *events):
        t.merge(spark.createDataFrame(
            [(op, lsn, conv, ti, "user", text, None, None)
             for op, lsn, conv, ti, text in events],
            CHANGE_SCHEMA,
        ), mode=mode)
        return t.current_version()

    def changes(v1, v2):
        return sorted(
            ((r["conv_id"], r["turn_idx"], r["_change_type"], r["_commit_lsn"],
              r["text"])
             for r in t.read_changes(spark, v1, v2, include_preimages=True).collect()),
            key=str,
        )

    def want(*rows):
        return sorted(rows, key=str)

    v1 = merge("cow", ("insert", 10, None, 7, "a"), ("insert", 11, None, None, "b"),
               ("insert", 12, "c1", 0, "x"), ("insert", 13, "c1", 1, "y"))
    v2 = merge("cow", ("update", 20, None, 7, "a2"), ("delete", 21, None, None, None),
               ("update", 22, "c1", 0, "x2"), ("insert", 23, "c2", 0, "z"))
    v3 = merge("mor", ("insert", 30, None, None, "b2"), ("delete", 31, None, 7, None),
               ("update", 32, "c2", 0, "z2"), ("delete", 33, "c1", 1, None))
    assert t.snapshot(v3)["deltas"]
    assert changes(v1, v2) == want(
        (None, 7, "update", 20, "a2"), (None, 7, "update_preimage", 20, "a"),
        (None, None, "delete", 21, "b"),
        ("c1", 0, "update", 22, "x2"), ("c1", 0, "update_preimage", 22, "x"),
        ("c2", 0, "insert", 23, "z"),
    )
    assert changes(v2, v3) == want(
        (None, None, "insert", 30, "b2"),
        (None, 7, "delete", 31, "a2"),
        ("c2", 0, "update", 32, "z2"), ("c2", 0, "update_preimage", 32, "z"),
        ("c1", 1, "delete", 33, "y"),
    )
    assert changes(v1, v3) == want(
        (None, None, "update", 30, "b2"), (None, None, "update_preimage", 30, "b"),
        (None, 7, "delete", 31, "a"),
        ("c1", 0, "update", 22, "x2"), ("c1", 0, "update_preimage", 22, "x"),
        ("c1", 1, "delete", 33, "y"),
        ("c2", 0, "insert", 32, "z2"),
    )
    # the empty origin sees the null keys as plain inserts
    assert changes(0, v3) == want(
        (None, None, "insert", 30, "b2"), ("c1", 0, "insert", 22, "x2"),
        ("c2", 0, "insert", 32, "z2"),
    )


def test_changelog_registration_outlives_the_call(spark, tmp_path):
    """read_changes returns a lazy frame over a per-hop registration:
    it still reads the hop's rows after later commits, a second read of
    the hop reuses the registration dir and catalog entries, and vacuum's
    grace sweep collects the dir."""
    import os

    t = LakeTable.create(
        str(tmp_path / "t"), TRANSCRIPT_SCHEMA, KEYS, num_buckets=4
    )
    t.merge(_stream(spark, 1500, seed=71))
    v1 = t.current_version()
    t.merge(_stream(spark, 600, seed=72, lsn_start=1500), mode="mor")
    v2 = t.current_version()
    breg = os.path.join(t.path, "_bucketed")

    def regs():
        return sorted(e for e in os.listdir(breg) if e.startswith("chg-"))

    def tables():
        return sorted(x.name for x in spark.catalog.listTables()
                      if x.name.startswith("zxr_"))

    def rows(df):
        return sorted(map(tuple, df.collect()), key=str)

    lazy = t.read_changes(spark, v1, v2, include_preimages=True)
    now = rows(t.read_changes(spark, v1, v2, include_preimages=True))
    assert len(regs()) == 1 and len(now) > 0
    seen = tables()
    t.merge(_stream(spark, 600, seed=73, lsn_start=2100))
    t.compact(spark)
    assert rows(lazy) == now
    assert len(regs()) == 1 and tables() == seen
    t.vacuum(keep_last=10, orphan_grace_seconds=0.0)
    assert regs() == []


def test_vacuum_drops_the_catalog_entries_of_swept_registrations(spark, tmp_path):
    """Changelog hops and MOR reads register catalog tables named after
    their _bucketed/ dirs; vacuum's sweep of those dirs drops the
    session's entries too, so a long-lived session does not gain
    catalog entries without bound."""
    t = LakeTable.create(
        str(tmp_path / "t"), TRANSCRIPT_SCHEMA, KEYS, num_buckets=4
    )

    def tables():
        return {x.name for x in spark.catalog.listTables()
                if x.name.startswith("zxr_")}

    before = tables()
    t.merge(_stream(spark, 900, seed=81))
    versions = [t.current_version()]
    for i in range(3):
        t.merge(_stream(spark, 300, seed=82 + i, lsn_start=900 + 300 * i),
                mode="mor")
        versions.append(t.current_version())
        t.read(spark).count()
    for v1, v2 in zip(versions, versions[1:]):
        t.read_changes(spark, v1, v2).count()
    assert tables() - before
    t.vacuum(keep_last=1, orphan_grace_seconds=0.0)
    assert tables() - before == set()


def test_changelog_registration_never_crosses_a_wap_stage(spark, tmp_path):
    """A WAP stage shares the table dir and numbers its versions after
    main's, so the stage's hop (v, v+1) and main's later hop (v, v+1)
    hold different files: each read must see its own rows, never the
    other's registration."""
    from oregonwaterdataportal_etl_spark.cdc.changegen import CHANGE_SCHEMA

    t = LakeTable.create(
        str(tmp_path / "t"), TRANSCRIPT_SCHEMA, KEYS, num_buckets=2
    )

    def batch(lsn, conv, text):
        return spark.createDataFrame(
            [("insert", lsn, conv, 0, "user", text, None, None)], CHANGE_SCHEMA
        )

    def changes(tbl, v1):
        return [(r["conv_id"], r["text"], r["_change_type"])
                for r in tbl.read_changes(spark, v1).collect()]

    t.merge(batch(10, "c0", "base"))
    v1 = t.current_version()
    stage = t.begin_wap("w1")
    stage.merge(batch(20, "staged", "s"))
    assert changes(stage, v1) == [("staged", "s", "insert")]
    stage.abort()
    t.merge(batch(30, "main", "m"))
    assert t.current_version() == v1 + 1
    assert changes(t, v1) == [("main", "m", "insert")]
