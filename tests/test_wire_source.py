"""Wire-format Python Data Source tests: typed roundtrip through the
batch reader, writer→reader identity, reader-level filter pushdown,
the shared Arrow file reader on a hand-written file (float spellings,
NULLs, embedded commas — the failure mode of the reference's
whitespace re-join, SURVEY.md §3.2 — blank lines, multi-chunk files),
and stream restart from a checkpoint."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo, GreaterThan

from google_cloud_ecommerce_spark.catalog import load_table
from google_cloud_ecommerce_spark.sources.wire import (
    WIRE_FORMAT,
    WireBatchReader,
    _read_wire_file,
    _safe_register,
    write_wire_dir,
)


def _agg(df):
    return df.agg(
        F.count("*").alias("n"),
        F.sum("event_id").alias("sid"),
        F.sum(F.col("value").cast("decimal(18,4)")).alias("sv"),
        F.max(F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")).alias("mx"),
    ).collect()[0]


def test_wire_roundtrip_typed(spark, sf_smoke):
    _safe_register(spark)
    d = write_wire_dir(spark, sf_smoke, n_files=3)
    try:
        got = _agg(spark.read.format(WIRE_FORMAT).load(d))
        want = _agg(load_table(spark, sf_smoke, "events"))
        assert tuple(got) == tuple(want)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_wire_writer_then_reader_identity(spark, sf_smoke, tmp_path):
    _safe_register(spark)
    out = str(tmp_path / "published")
    events = load_table(spark, sf_smoke, "events").select(
        "event_id",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    events.write.format(WIRE_FORMAT).mode("append").save(out)
    back = spark.read.format(WIRE_FORMAT).load(out)
    assert tuple(_agg(back)) == tuple(_agg(events))


def test_wire_filter_pushdown_sets_reader_state():
    r = WireBatchReader({"path": "/nonexistent"})
    leftover = list(
        r.pushFilters([EqualTo(("event_type",), "view"), GreaterThan(("value",), 1.0)])
    )
    assert r.event_type_eq == "view"
    # the non-equality filter must be handed back for Spark to apply
    assert len(leftover) == 1 and isinstance(leftover[0], GreaterThan)


def test_wire_pushdown_results_match_unpushed(spark, sf_smoke):
    _safe_register(spark)
    d = write_wire_dir(spark, sf_smoke, n_files=2)
    try:
        pushed = (
            spark.read.format(WIRE_FORMAT)
            .load(d)
            .filter(F.col("event_type") == "cart")
            .count()
        )
        want = (
            load_table(spark, sf_smoke, "events")
            .filter(F.col("event_type") == "cart")
            .count()
        )
        assert pushed == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _read_rows(path, **kw):
    batches = list(_read_wire_file(str(path), **kw))
    rows = [r for b in batches for r in zip(*(c.to_pylist() for c in b.columns))]
    return batches, rows


def test_wire_props_commas_survive(tmp_path):
    f = tmp_path / "m.wire"
    f.write_text(
        '7,2024-01-02 03:04:05.000006,42,view,1.5,{"k": 69, "tags": [1,2]}\n'
        "1,2024-01-02 03:04:05.000000,2,cart,0.5,\n"
    )
    _, rows = _read_rows(f)
    row = rows[0]
    assert row[0] == 7 and row[2] == 42 and row[4] == 1.5
    assert row[5] == '{"k": 69, "tags": [1,2]}'
    assert rows[1][5] is None


# A hand-written message file: float spellings of write_wire_dir (Spark
# casts: NaN/Infinity) and of WireBatchWriter (Python repr: nan/inf),
# -0.0, '' as NULL in each field, commas inside props, a blank line in
# the middle and a trailing newline.
_HAND_FILE = """\
1,2024-01-02 03:04:05.000006,42,view,NaN,{"k": 1, "tags": [1,2]}
2,2024-01-02 03:04:06.000000,43,cart,Infinity,a,b,,c
3,2024-01-02 03:04:07.000000,44,purchase,-Infinity,p
4,2024-01-02 03:04:08.000000,45,view,nan,p

5,2024-01-02 03:04:09.000000,46,view,inf,p
6,2024-01-02 03:04:10.000000,47,cart,-inf,p
7,2024-01-02 03:04:11.000000,48,view,-0.0,p
,2024-01-03 00:00:00.000000,2,view,1.5,p
10,,2,view,1.5,p
11,2024-01-03 00:00:00.000000,,view,1.5,p
12,2024-01-03 00:00:00.000000,2,,1.5,p
13,2024-01-03 00:00:00.000000,2,view,,p
14,2024-01-03 00:00:00.000000,2,view,1e-05,
"""


def test_wire_file_reader_types_and_nulls(tmp_path):
    import datetime as dt

    f = tmp_path / "hand.wire"
    f.write_text(_HAND_FILE)
    batches, rows = _read_rows(f)
    assert len(batches) == 1
    assert str(batches[0].schema.field("ts").type) == "timestamp[us]"
    assert [r[0] for r in rows] == [1, 2, 3, 4, 5, 6, 7, None, 10, 11, 12, 13, 14]
    assert [repr(r[4]) for r in rows] == [
        "nan", "inf", "-inf", "nan", "inf", "-inf", "-0.0",
        "1.5", "1.5", "1.5", "1.5", "None", "1e-05",
    ]
    assert rows[0][1] == dt.datetime(2024, 1, 2, 3, 4, 5, 6)
    assert rows[0][1].tzinfo is None
    assert rows[0][5] == '{"k": 1, "tags": [1,2]}'
    assert rows[1][5] == "a,b,,c"
    # '' is NULL in every field, without shifting the later ones
    assert rows[7] == (None, dt.datetime(2024, 1, 3), 2, "view", 1.5, "p")
    assert rows[8] == (10, None, 2, "view", 1.5, "p")
    assert rows[9] == (11, dt.datetime(2024, 1, 3), None, "view", 1.5, "p")
    assert rows[10] == (12, dt.datetime(2024, 1, 3), 2, None, 1.5, "p")
    assert rows[11] == (13, dt.datetime(2024, 1, 3), 2, "view", None, "p")
    assert rows[12] == (14, dt.datetime(2024, 1, 3), 2, "view", 1e-05, None)


def test_wire_file_reader_event_type_filter(tmp_path):
    f = tmp_path / "hand.wire"
    f.write_text(_HAND_FILE)
    _, rows = _read_rows(f, event_type_eq="cart")
    assert [r[0] for r in rows] == [2, 6]
    assert rows[1][3] == "cart" and repr(rows[1][4]) == "-inf"
    _, none = _read_rows(f, event_type_eq="refund")
    assert none == []


def test_wire_file_reader_chunks_bound_the_batch(tmp_path, monkeypatch):
    """A file larger than one chunk gives one RecordBatch per chunk of
    whole lines, and the same rows as a single-chunk read."""
    from google_cloud_ecommerce_spark.sources import wire

    f = tmp_path / "hand.wire"
    f.write_text(_HAND_FILE * 3)
    one, rows = _read_rows(f)
    monkeypatch.setattr(wire, "_CHUNK_BYTES", 200)
    chunked, chunked_rows = _read_rows(f)
    assert len(one) == 1 and len(chunked) > 1
    assert max(b.num_rows for b in chunked) < len(rows) == 39
    assert list(map(repr, chunked_rows)) == list(map(repr, rows))


def test_wire_stream_restart_reads_only_new_files(spark, tmp_path):
    """A second availableNow run on the same checkpoint, after one new
    file lands, reads exactly that file: offsets are file counts in
    sorted-name order, so nothing is replayed or skipped."""
    _safe_register(spark)
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    (tmp_path / "src").mkdir()

    def put(name, ids):
        (tmp_path / "src" / name).write_text(
            "".join(f"{i},2024-01-01 00:00:00.000000,1,view,1.0,p\n" for i in ids)
        )

    def run():
        q = (
            spark.readStream.format(WIRE_FORMAT)
            .load(src)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sum(p["numInputRows"] for p in q.recentProgress)

    put("m-0000.wire", [1, 2])
    put("m-0001.wire", [3])
    assert run() == 3
    put("m-0002.wire", [4, 5, 6, 7])
    assert run() == 4
    got = sorted(r.event_id for r in spark.read.parquet(out).collect())
    assert got == [1, 2, 3, 4, 5, 6, 7]


def test_wire_null_in_every_field_roundtrips(spark, tmp_path):
    """'' encodes NULL for EVERY column, writer and parser agreeing —
    a null field must come back as NULL, never shift later positions or
    crash the parse."""
    import datetime as dt

    from google_cloud_ecommerce_spark.sources.wire import (
        WIRE_FORMAT,
        WIRE_SCHEMA,
        _safe_register,
    )

    ts = dt.datetime(2024, 1, 2, 3, 4, 5, 6)
    rows = [
        (None, ts, 2, "view", 1.5, "p"),
        (10, None, 2, "view", 1.5, "p"),
        (11, ts, None, "view", 1.5, "p"),
        (12, ts, 2, None, 1.5, "p"),
        (13, ts, 2, "view", None, "p"),
        (14, ts, 2, "view", 1.5, None),
    ]
    src = spark.createDataFrame(rows, WIRE_SCHEMA)
    _safe_register(spark)
    out = str(tmp_path / "wire_nulls")
    src.write.format(WIRE_FORMAT).option("path", out).mode("append").save()
    back = spark.read.format(WIRE_FORMAT).load(out)
    key = lambda t: tuple(map(repr, t))  # noqa: E731 — None-safe sort
    assert sorted(map(tuple, back.collect()), key=key) == sorted(
        map(tuple, src.collect()), key=key
    )


def test_stream_sink_manifest_hides_orphan_files(spark, tmp_path):
    """committed_only reads see exactly the files the epoch manifests
    list — an orphan file from a failed/retried epoch is invisible,
    while the plain batch read (no manifest discipline) sees both."""
    from google_cloud_ecommerce_spark.sources.wire import WIRE_FORMAT, _safe_register

    _safe_register(spark)
    d = tmp_path / "msgs"
    d.mkdir()
    committed = d / "part-aaaa.wire"
    committed.write_text("1,2024-01-01 00:00:00.000000,7,view,1.5,\n")
    orphan = d / "part-bbbb.wire"
    orphan.write_text("2,2024-01-01 00:00:01.000000,8,cart,2.5,\n")
    (d / "_commit-0").write_text(str(committed) + "\n")

    seen = spark.read.format(WIRE_FORMAT).option("committed_only", "true").load(str(d))
    assert [r.event_id for r in seen.collect()] == [1]
    all_rows = spark.read.format(WIRE_FORMAT).load(str(d))
    assert sorted(r.event_id for r in all_rows.collect()) == [1, 2]


def test_stream_sink_commit_refuses_foreign_manifest_clobber(tmp_path):
    """A reused batchId (second query on the same path, or a restart
    with a fresh checkpoint) must not silently replace an earlier
    epoch's manifest — its files would vanish from committed_only
    reads. Identical re-commits stay idempotent."""
    import pytest

    from google_cloud_ecommerce_spark.sources.wire import WireCommit, WireStreamWriter

    w = WireStreamWriter({"path": str(tmp_path)})
    w.commit([WireCommit(file=str(tmp_path / "a.wire"), n_messages=1)], batchId=0)
    # idempotent re-delivery of the same epoch: fine
    w.commit([WireCommit(file=str(tmp_path / "a.wire"), n_messages=1)], batchId=0)
    with pytest.raises(RuntimeError, match="refusing to clobber"):
        w.commit([WireCommit(file=str(tmp_path / "b.wire"), n_messages=1)], batchId=0)
    # the original manifest survives the refused clobber
    assert (tmp_path / "_commit-0").read_text().strip() == str(tmp_path / "a.wire")


def test_stream_sink_commit_prefix_divergence_is_clobber_not_partial(tmp_path):
    """A committed manifest whose content is a strict PREFIX of the
    re-committer's (the winner listed fewer files for the same epoch)
    is a permanent divergent commit, not a stalled copy: after the poll
    deadline it must raise the refusing-to-clobber error — the 'still
    partial ... retry the epoch' diagnosis would suggest a retry that
    can never succeed (ADVICE r9). The deadline is a writer option so
    the test doesn't stall for the full default."""
    import pytest

    from google_cloud_ecommerce_spark.sources.wire import WireCommit, WireStreamWriter

    w = WireStreamWriter(
        {"path": str(tmp_path), "manifest_poll_deadline_s": "0.2"}
    )
    w.commit([WireCommit(file=str(tmp_path / "a.wire"), n_messages=1)], batchId=0)
    with pytest.raises(RuntimeError, match="refusing to clobber"):
        w.commit(
            [
                WireCommit(file=str(tmp_path / "a.wire"), n_messages=1),
                WireCommit(file=str(tmp_path / "b.wire"), n_messages=1),
            ],
            batchId=0,
        )
    # the winner's manifest survives untouched
    assert (tmp_path / "_commit-0").read_text().strip() == str(tmp_path / "a.wire")


def test_stream_sink_commit_survives_no_hardlink_fs(tmp_path, monkeypatch):
    """On filesystems without hard-link support (NFS/FUSE/overlay),
    os.link raises plain OSError (EPERM/EOPNOTSUPP/EXDEV) — commit must
    fall back to the O_CREAT|O_EXCL create-if-absent protocol (ADVICE
    r7; exclusive create, NOT exists()+replace, so two concurrent
    committers can't interleave): first commit lands, identical
    re-commit is idempotent, a different manifest for the same batchId
    still fails loudly, and no .tmp files are left behind in any
    path. An errno outside the link-unsupported set must propagate."""
    import errno
    import os as os_mod

    import pytest

    from google_cloud_ecommerce_spark.sources import wire
    from google_cloud_ecommerce_spark.sources.wire import WireCommit, WireStreamWriter

    def no_link(src, dst, **kw):
        raise OSError(errno.EPERM, "Operation not permitted")

    monkeypatch.setattr(wire.os, "link", no_link)
    w = WireStreamWriter({"path": str(tmp_path)})
    w.commit([WireCommit(file=str(tmp_path / "a.wire"), n_messages=1)], batchId=0)
    assert (tmp_path / "_commit-0").read_text().strip() == str(tmp_path / "a.wire")
    w.commit([WireCommit(file=str(tmp_path / "a.wire"), n_messages=1)], batchId=0)
    with pytest.raises(RuntimeError, match="refusing to clobber"):
        w.commit([WireCommit(file=str(tmp_path / "b.wire"), n_messages=1)], batchId=0)
    assert (tmp_path / "_commit-0").read_text().strip() == str(tmp_path / "a.wire")
    leftovers = [p for p in os_mod.listdir(tmp_path) if ".tmp." in p]
    assert leftovers == []


def test_stream_sink_commit_reraises_real_link_failures(tmp_path, monkeypatch):
    """EMLINK (too many links) is a real failure, not a no-hardlink
    filesystem — it must propagate, with the tmp file cleaned up."""
    import errno
    import os as os_mod

    import pytest

    from google_cloud_ecommerce_spark.sources import wire
    from google_cloud_ecommerce_spark.sources.wire import WireCommit, WireStreamWriter

    def bad_link(src, dst, **kw):
        raise OSError(errno.EMLINK, "Too many links")

    monkeypatch.setattr(wire.os, "link", bad_link)
    w = WireStreamWriter({"path": str(tmp_path)})
    with pytest.raises(OSError):
        w.commit([WireCommit(file=str(tmp_path / "a.wire"), n_messages=1)], batchId=0)
    assert not (tmp_path / "_commit-0").exists()
    assert [p for p in os_mod.listdir(tmp_path) if ".tmp." in p] == []


def test_stream_sink_recommit_tolerates_midwrite_manifest(tmp_path):
    """ADVICE r8: the O_CREAT|O_EXCL fallback publishes the manifest
    before its content lands, so a loser racing an IDENTICAL
    re-committer can observe an empty/partial manifest. The idempotence
    check must poll until the content stabilizes instead of spuriously
    raising refusing-to-clobber — here the winner's copy completes
    ~0.15 s after the loser starts checking."""
    import threading
    import time as time_mod

    from google_cloud_ecommerce_spark.sources.wire import WireCommit, WireStreamWriter

    manifest = tmp_path / "_commit-0"
    manifest.write_bytes(b"")  # winner created it, content not yet landed

    def winner_finishes():
        time_mod.sleep(0.15)
        manifest.write_text(str(tmp_path / "a.wire") + "\n")

    t = threading.Thread(target=winner_finishes)
    t.start()
    try:
        w = WireStreamWriter({"path": str(tmp_path)})
        # identical content -> must succeed once the winner's copy lands
        w.commit([WireCommit(file=str(tmp_path / "a.wire"), n_messages=1)], batchId=0)
    finally:
        t.join()
    assert manifest.read_text().strip() == str(tmp_path / "a.wire")
    assert [p for p in manifest.parent.iterdir() if ".tmp." in p.name] == []


def test_stream_sink_fallback_copy_failure_cleans_tmp(tmp_path, monkeypatch):
    """ADVICE r8: if the fallback's content copy fails, BOTH the partial
    manifest and the .tmp staging file must be removed before the error
    propagates (the link-failure branch already did)."""
    import errno
    import os as os_mod

    import pytest

    from google_cloud_ecommerce_spark.sources import wire
    from google_cloud_ecommerce_spark.sources.wire import WireCommit, WireStreamWriter

    def no_link(src, dst, **kw):
        raise OSError(errno.EPERM, "Operation not permitted")

    real_fdopen = os_mod.fdopen

    def bad_fdopen(fd, *a, **kw):
        os_mod.close(fd)
        raise OSError(errno.EIO, "Input/output error")

    monkeypatch.setattr(wire.os, "link", no_link)
    monkeypatch.setattr(wire.os, "fdopen", bad_fdopen)
    w = WireStreamWriter({"path": str(tmp_path)})
    with pytest.raises(OSError):
        w.commit([WireCommit(file=str(tmp_path / "a.wire"), n_messages=1)], batchId=0)
    monkeypatch.setattr(wire.os, "fdopen", real_fdopen)
    assert not (tmp_path / "_commit-0").exists()
    assert [p for p in os_mod.listdir(tmp_path) if ".tmp." in p] == []


def test_stream_sink_recommit_waits_out_stable_identical_prefix(tmp_path):
    """Review r9: two consecutive identical PARTIAL reads must not be
    declared a clobber while the content is still a prefix of ours — a
    stalled winner writing identical content reads stable twice. The
    loser keeps polling and succeeds once the copy lands."""
    import threading
    import time as time_mod

    from google_cloud_ecommerce_spark.sources.wire import WireCommit, WireStreamWriter

    full = str(tmp_path / "a.wire") + "\n" + str(tmp_path / "b.wire") + "\n"
    manifest = tmp_path / "_commit-0"
    manifest.write_text(full[: len(full) // 2])  # stalled mid-copy

    def winner_finishes():
        time_mod.sleep(0.4)  # > 2 poll intervals: the prefix reads stable
        manifest.write_text(full)

    t = threading.Thread(target=winner_finishes)
    t.start()
    try:
        w = WireStreamWriter({"path": str(tmp_path)})
        w.commit(
            [
                WireCommit(file=str(tmp_path / "a.wire"), n_messages=1),
                WireCommit(file=str(tmp_path / "b.wire"), n_messages=1),
            ],
            batchId=0,
        )
    finally:
        t.join()
    assert manifest.read_text() == full
    assert [p for p in manifest.parent.iterdir() if ".tmp." in p.name] == []
