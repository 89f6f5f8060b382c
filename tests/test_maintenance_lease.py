"""Concurrent-maintainer detection for the index ledgers (VERDICT r12
#4): the single-maintainer contract is ENFORCED by a lease file at
the index root — a second concurrent maintenance op fails fast with
ConcurrentMaintainerError before touching any stage, a crashed
maintainer's stale lease is reclaimed after the timeout, and readers
never take the lease (they stay pure)."""

from __future__ import annotations

import json
import time

import pytest

from pyspark.sql import functions as F

from trade_data_collection_service_spark.ext import dedup as D
from trade_data_collection_service_spark.ext.dedup import (
    ConcurrentMaintainerError,
    append_to_gram_index,
    append_to_neardup_index,
    compact_neardup_index,
    incremental_duplicate_spans,
    incremental_neardup_pairs,
    maintenance_lease,
    write_gram_index,
    write_neardup_index,
)


def _docs(spark, ids):
    return spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta doc {i} " * 3)
         for i in ids],
        "doc_id long, text string",
    )


def _index_rows(spark, path):
    return {
        t: sorted(
            map(tuple, spark.read.parquet(f"{path}/{t}").drop("batch")
                .collect())
        )
        for t in ("shingles", "bands", "counts")
    }


def test_second_appender_fails_fast_with_no_damage(spark, tmp_path):
    path = f"{tmp_path}/idx"
    write_neardup_index(_docs(spark, range(8)), path)
    before = _index_rows(spark, path)
    # maintainer A holds the lease (mid-append); maintainer B's
    # append must fail cleanly BEFORE touching any stage or table
    with maintenance_lease(spark, path, "test-holder"):
        with pytest.raises(ConcurrentMaintainerError, match="single-maint"):
            append_to_neardup_index(_docs(spark, [100]), path, batch_id="b1")
        with pytest.raises(ConcurrentMaintainerError):
            compact_neardup_index(spark, path)
        with pytest.raises(ConcurrentMaintainerError):
            write_neardup_index(_docs(spark, [100]), path)
    assert _index_rows(spark, path) == before  # no stage damage
    import os

    assert not any(
        name.endswith(".stage") for name in os.listdir(str(tmp_path))
    )
    # lease released on exit: the same append now succeeds
    append_to_neardup_index(_docs(spark, [100]), path, batch_id="b1")
    assert (
        spark.read.parquet(f"{path}/counts")
        .filter(F.col("doc_id") == 100)
        .count()
        == 1
    )


def test_gram_appender_holds_the_same_contract(spark, tmp_path):
    path = f"{tmp_path}/gidx"
    write_gram_index(_docs(spark, range(8)), path)
    with maintenance_lease(spark, path, "test-holder"):
        with pytest.raises(ConcurrentMaintainerError):
            append_to_gram_index(_docs(spark, [100]), path)
    append_to_gram_index(_docs(spark, [100]), path)  # released -> ok


def test_crashed_maintainer_lease_is_reclaimed(spark, tmp_path, monkeypatch):
    path = f"{tmp_path}/idx"
    write_neardup_index(_docs(spark, range(8)), path)
    # a crashed maintainer: lease file left behind, heartbeat old
    lease = D._lease_path(path)
    D._lease_write(
        spark,
        lease,
        {
            "maintainer": "crashed:999:deadbeef",
            "op": "append",
            "acquired_unix": time.time() - 60,
            "heartbeat_unix": time.time() - 60,
        },
        overwrite=False,
    )
    # fresh-enough lease (60s < a big timeout) still blocks
    monkeypatch.setattr(D, "DEFAULT_LEASE_TIMEOUT_SEC", 3600.0)
    with pytest.raises(ConcurrentMaintainerError):
        append_to_neardup_index(_docs(spark, [100]), path, batch_id="b1")
    # past the timeout it is reclaimed and the append proceeds
    monkeypatch.setattr(D, "DEFAULT_LEASE_TIMEOUT_SEC", 5.0)
    append_to_neardup_index(_docs(spark, [100]), path, batch_id="b1")
    from trade_data_collection_service_spark.streaming.pipeline import (
        table_exists,
    )

    assert not table_exists(spark, lease)  # released after success


def test_unreadable_lease_falls_back_to_mtime(spark, tmp_path, monkeypatch):
    """A lease whose body never finished writing (crash mid-create)
    must still block while FRESH (by file mtime) and reclaim once
    stale — never crash the maintainer with a parse error."""
    path = f"{tmp_path}/idx"
    write_neardup_index(_docs(spark, range(8)), path)
    lease = D._lease_path(path)
    from trade_data_collection_service_spark.streaming.pipeline import (
        _fs_for,
    )

    fs, hpath = _fs_for(spark, lease)
    fs.create(hpath, False).close()  # zero-byte lease
    monkeypatch.setattr(D, "DEFAULT_LEASE_TIMEOUT_SEC", 3600.0)
    with pytest.raises(ConcurrentMaintainerError):
        append_to_neardup_index(_docs(spark, [100]), path, batch_id="b1")
    monkeypatch.setattr(D, "DEFAULT_LEASE_TIMEOUT_SEC", 0.5)
    time.sleep(0.6)
    append_to_neardup_index(_docs(spark, [100]), path, batch_id="b1")


def test_readers_stay_pure_under_a_held_lease(spark, tmp_path):
    path = f"{tmp_path}/idx"
    gpath = f"{tmp_path}/gidx"
    corpus = _docs(spark, range(8))
    write_neardup_index(corpus, path)
    write_gram_index(corpus, gpath)
    batch = _docs(spark, [3])  # a copy of doc 3 -> one near-dup pair
    with maintenance_lease(spark, path, "test-holder"), maintenance_lease(
        spark, gpath, "test-holder"
    ):
        pairs = incremental_neardup_pairs(
            batch.withColumn("doc_id", F.lit(1003).cast("long")), path
        )
        assert pairs.count() >= 1  # reader ran fine, no lease taken
        incremental_duplicate_spans(batch, gpath).count()
        # and the readers did not release/destroy the held leases
        assert D._lease_read(spark, D._lease_path(path)) is not None
    # the holder's exit releases them
    assert D._lease_read(spark, D._lease_path(path)) is None


def test_lease_released_on_maintainer_error(spark, tmp_path):
    """An append that dies inside (pre-ledger layout) must not leave
    the lease behind — the next maintenance op would stall for the
    full timeout on a lease nobody holds."""
    # the repro: neardup tables in the legacy flat layout (no batch
    # partition column) make the append raise AFTER taking the lease
    flat = f"{tmp_path}/flatidx"
    ex = D.exploded_shingles(_docs(spark, range(4)))
    for t in ("shingles", "bands", "counts"):
        ex.limit(1).write.parquet(f"{flat}/{t}")
    with pytest.raises(ValueError, match="pre-ledger"):
        append_to_neardup_index(_docs(spark, [9]), flat, batch_id="b")
    assert D._lease_read(spark, D._lease_path(flat)) is None


def test_heartbeat_refreshes_the_lease(spark, tmp_path):
    path = f"{tmp_path}/idx"
    with maintenance_lease(spark, path, "op") as lease:
        doc0 = D._lease_read(spark, D._lease_path(path))
        time.sleep(0.05)
        lease.heartbeat()
        doc1 = D._lease_read(spark, D._lease_path(path))
        assert doc1["heartbeat_unix"] > doc0["heartbeat_unix"]
        assert doc1["maintainer"] == doc0["maintainer"]
    assert D._lease_read(spark, D._lease_path(path)) is None


def test_release_never_deletes_a_reclaimers_lease(spark, tmp_path):
    """If maintainer A's lease timed out mid-op and B reclaimed it, A's
    exit must NOT delete B's lease."""
    path = f"{tmp_path}/idx"
    lease_path = D._lease_path(path)
    cm = maintenance_lease(spark, path, "slow-op")
    cm.__enter__()
    # B reclaims (simulate: replace the lease wholesale)
    D._lease_write(
        spark,
        lease_path,
        {
            "maintainer": "B:1:beef",
            "op": "append",
            "heartbeat_unix": time.time(),
        },
        overwrite=True,
    )
    cm.__exit__(None, None, None)
    doc = D._lease_read(spark, lease_path)
    assert doc is not None and doc["maintainer"] == "B:1:beef"


def test_lease_file_is_json_with_identity_and_heartbeat(spark, tmp_path):
    path = f"{tmp_path}/idx"
    with maintenance_lease(spark, path, "append_to_neardup_index"):
        raw = D._lease_read(spark, D._lease_path(path))
        assert raw["op"] == "append_to_neardup_index"
        assert ":" in raw["maintainer"]
        assert raw["heartbeat_unix"] >= raw["acquired_unix"]
        # round-trips as plain JSON (ops tooling readable)
        json.dumps(raw)


def test_stream_trigger_fails_under_foreign_lease_then_replays(
    spark, sf_dir, tmp_path
):
    """A misconfigured second maintainer is exactly what the lease
    exists to catch in a STREAM: while a foreign lease is held on the
    ingest index, the stream's trigger fails loudly (the append
    refuses before touching any stage), and after the lease is
    released the checkpoint replays the batch and converges on the
    same accepted set a clean run produces."""
    from trade_data_collection_service_spark.ext.dedup import (
        documents_neardup,
    )
    from trade_data_collection_service_spark.streaming.doc_ingest import (
        read_accepted,
        run_doc_ingest,
    )

    corpus = documents_neardup(spark, sf_dir).select(
        "doc_id", "text", "lang", "source"
    )
    stored = corpus.filter(F.col("doc_id") % 3 == 1)
    b1 = corpus.filter(F.col("doc_id") % 3 == 2)
    index = str(tmp_path / "index")
    out = str(tmp_path / "out")
    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    write_neardup_index(stored, index)
    b1.coalesce(1).write.parquet(src)
    # the accept decision a clean run would make against the seed
    from trade_data_collection_service_spark.ext.dedup import (
        minhash_lsh_pairs,
    )

    cross = {
        r["new_id"]
        for r in incremental_neardup_pairs(
            b1, index, exclude_batch=0
        ).collect()
    }
    intra = {r["doc_b"] for r in minhash_lsh_pairs(b1).collect()}
    want = {
        r["doc_id"] for r in b1.collect()
        if r["doc_id"] not in (cross | intra)
    }
    cm = maintenance_lease(spark, index, "external-maintainer")
    cm.__enter__()
    try:
        q = run_doc_ingest(spark, src, index, out, ck)
        with pytest.raises(Exception, match="single-maintainer"):
            q.awaitTermination(300)
        assert q.exception() is not None
    finally:
        cm.__exit__(None, None, None)
    # lease released: the same checkpoint replays batch 0 and the
    # pipeline converges
    q2 = run_doc_ingest(spark, src, index, out, ck)
    q2.awaitTermination(300)
    assert q2.exception() is None
    got = {r["doc_id"] for r in read_accepted(spark, out).collect()}
    assert got == want


def test_heartbeat_aborts_when_lease_was_reclaimed(spark, tmp_path):
    """r13 review: a maintainer that exceeded the timeout and lost
    its lease to a reclaimer must ABORT on its next heartbeat, not
    resurrect its lease over the reclaimer's."""
    path = f"{tmp_path}/idx"
    lease_path = D._lease_path(path)
    cm = maintenance_lease(spark, path, "slow-op")
    lease = cm.__enter__()
    try:
        # reclaimer B took over (A's lease timed out mid-stage)
        D._lease_write(
            spark,
            lease_path,
            {"maintainer": "B:1:beef", "op": "append",
             "heartbeat_unix": time.time()},
            overwrite=True,
        )
        with pytest.raises(ConcurrentMaintainerError, match="reclaimed"):
            lease.heartbeat()
        # B's lease untouched by the failed heartbeat
        doc = D._lease_read(spark, lease_path)
        assert doc["maintainer"] == "B:1:beef"
    finally:
        cm.__exit__(None, None, None)
    # and A's exit did not delete B's lease either
    doc = D._lease_read(spark, lease_path)
    assert doc is not None and doc["maintainer"] == "B:1:beef"


def test_release_deletes_unreadable_own_lease(spark, tmp_path):
    """r13 review (ADVICE): when the maintainer's OWN lease is
    unreadable at exit (crash mid-heartbeat-rewrite, transient read
    fault), the release must still delete it — acquire's read-back
    verified exactly one id (ours) was written, so skipping the
    delete would orphan a nobody-holds-it lease that blocks all
    maintenance for the full timeout."""
    path = f"{tmp_path}/idx"
    lease_path = D._lease_path(path)
    from trade_data_collection_service_spark.streaming.pipeline import (
        _fs_for,
    )

    cm = maintenance_lease(spark, path, "op")
    cm.__enter__()
    # corrupt our own lease body (simulates a torn heartbeat rewrite)
    fs, hpath = _fs_for(spark, lease_path)
    out = fs.create(hpath, True)
    out.write(bytearray(b"{not json"))
    out.close()
    assert D._lease_read(spark, lease_path) == {}  # unreadable
    cm.__exit__(None, None, None)
    assert D._lease_read(spark, lease_path) is None  # released anyway


def test_release_keeps_unreadable_lease_modified_after_our_last_write(
    spark, tmp_path
):
    """r14 review: an unreadable lease whose mtime is NEWER than our
    own last write may be a live reclaimer's torn heartbeat rewrite —
    the exiting maintainer must NOT delete it (deleting would re-admit
    a third maintainer alongside the reclaimer).  Only an unreadable
    lease not modified since our last write (our own torn state) is
    released."""
    path = f"{tmp_path}/idx"
    lease_path = D._lease_path(path)
    from trade_data_collection_service_spark.streaming.pipeline import (
        _fs_for,
    )

    cm = maintenance_lease(spark, path, "op")
    handle = cm.__enter__()
    # a torn rewrite lands on the file NOW...
    fs, hpath = _fs_for(spark, lease_path)
    out = fs.create(hpath, True)
    out.write(bytearray(b"{torn"))
    out.close()
    # ...but OUR last write is (simulated) far in the past, so the
    # file was modified after us — plausibly the reclaimer's
    handle._doc = dict(handle._doc, heartbeat_unix=time.time() - 3600)
    cm.__exit__(None, None, None)
    assert D._lease_read(spark, lease_path) == {}  # NOT deleted


def test_take_race_classified_by_java_class_not_message(spark, tmp_path, monkeypatch):
    """r13 review (ADVICE): the lost-take-race classification walks
    the py4j Java exception class chain; an unrelated FS fault whose
    message merely contains 'exist' must surface as ITSELF (cause
    chain intact), not as ConcurrentMaintainerError."""
    path = f"{tmp_path}/idx"
    lease_path = D._lease_path(path)
    # (a) a real already-exists collision classifies as a lost race
    D._lease_write(spark, lease_path, {"maintainer": "x"}, overwrite=False)
    with pytest.raises(Exception) as ei:
        D._lease_write(spark, lease_path, {"maintainer": "y"}, overwrite=False)
    assert D._is_already_exists(ei.value)
    fs, hpath = (None, None)
    # (b) an unrelated fault with 'exist' in the message propagates
    boom = RuntimeError("mkdir failed: parent directory does not exist")
    assert not D._is_already_exists(boom)
    monkeypatch.setattr(
        D, "_lease_write", lambda *a, **k: (_ for _ in ()).throw(boom)
    )
    from trade_data_collection_service_spark.streaming.pipeline import _rm

    _rm(spark, lease_path)
    with pytest.raises(RuntimeError, match="parent directory"):
        with maintenance_lease(spark, path, "op"):
            pass  # pragma: no cover


def test_stale_reclaim_consumes_the_lease_exactly_once(spark, tmp_path, monkeypatch):
    """The rename-guarded reclaim: once one reclaimer consumed the
    stale lease (rename succeeded, fresh lease created), a second
    would-be reclaimer that still believes the lease is stale cannot
    delete the winner's fresh lease — it fails fast against it."""
    path = f"{tmp_path}/idx"
    lease_path = D._lease_path(path)
    # a stale lease
    D._lease_write(
        spark,
        lease_path,
        {"maintainer": "crashed:9:dead", "op": "x",
         "heartbeat_unix": time.time() - 60},
        overwrite=False,
    )
    monkeypatch.setattr(D, "DEFAULT_LEASE_TIMEOUT_SEC", 5.0)
    cm = maintenance_lease(spark, path, "winner-op")
    cm.__enter__()  # reclaims the stale lease, holds a FRESH one
    try:
        with pytest.raises(ConcurrentMaintainerError):
            # second maintainer: the winner's lease is fresh now
            with maintenance_lease(spark, path, "loser-op"):
                pass
        doc = D._lease_read(spark, lease_path)
        assert doc["op"] == "winner-op"  # untouched by the loser
    finally:
        cm.__exit__(None, None, None)


def test_local_lease_path_parses_file_uris():
    """r15 (VERDICT r14 what's-wrong #4): the local fast path must
    not mangle authority-bearing file: URIs — ``file://host/tmp/x``
    is a REMOTE authority and falls through to Hadoop (None), while
    empty/localhost authorities resolve to the URI path (RFC 8089).
    Bare paths and non-file schemes keep their r14 behavior."""
    assert D._local_lease_path("/tmp/x.lease") == "/tmp/x.lease"
    assert D._local_lease_path("file:/tmp/x") == "/tmp/x"
    assert D._local_lease_path("file:///tmp/x") == "/tmp/x"
    assert D._local_lease_path("file://localhost/tmp/x") == "/tmp/x"
    # authority-bearing: NOT this filesystem — Hadoop decides
    assert D._local_lease_path("file://nas01/tmp/x") is None
    # percent-encoding resolves like Hadoop's URI→path
    assert D._local_lease_path("file:///tmp/a%20b") == "/tmp/a b"
    assert D._local_lease_path("hdfs://nn/tmp/x") is None
    assert D._local_lease_path("s3a://bucket/k") is None


def test_local_lease_path_defers_query_and_fragment_to_hadoop():
    """``?`` and ``#`` are legal file-name characters to Hadoop's Path,
    but urllib splits them off as a query or fragment.  Resolving such
    a URI locally would lock a different file than a Hadoop client
    does, so it falls through to Hadoop (None)."""
    assert D._local_lease_path("file:/tmp/x#y") is None
    assert D._local_lease_path("file:///tmp/x?v=1") is None
    assert D._local_lease_path("file:/tmp/x#") is None
    assert D._local_lease_path("file:/tmp/x") == "/tmp/x"
