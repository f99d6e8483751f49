"""Atomic versioned-pointer publish and the maintenance sweeps that
drive it.

The three layout-rewriting maintenance passes (l17 LSH compaction,
x123 postings compaction, x133 IVF re-centroiding) each promised
"probes keep serving the old layout until the atomic directory
swap"; these tests pin the executable form of that claim over the
one publisher (``publish.open_root`` / ``StorePublisher``) —
pointer round-trip, crash-leaves-old-version-live, probe-through-
pointer consistency for all three index families, prune horizon,
and the census -> due? -> rewrite -> publish sweep end-to-end on the
drifted/decayed fixtures.  A plain path and ``mock://`` are two
spellings of one local root, so each behaviour is tested once."""

from __future__ import annotations

import json
import os

import pytest

from samplebatchprocessing_spark.catalog import load_table
from samplebatchprocessing_spark.operators import (dedup, maintenance,
                                                   publish)
from samplebatchprocessing_spark.operators import similarity as S
from samplebatchprocessing_spark.operators import text as T


def _write(pub, key: str, data: bytes = b"x") -> None:
    """Give layout ``key`` one object, so it exists as a layout."""
    pub.store.put(f"{key}/part-0.parquet", data)


def _publish_new(pub, write) -> str:
    """Write a fresh layout with ``write(path)``, publish it, return
    its key."""
    key = pub.new_layout_dir()
    write(pub.data_path(key))
    pub.publish(key)
    return key


def test_open_root_spellings(tmp_path):
    """One opener for every root: a plain path and ``mock://`` both
    split at the parent directory (the same backing files), with or
    without a trailing slash; ``s3://`` opens the bucket client with
    its ``s3a://`` data plane; any other scheme is refused."""
    path = str(tmp_path / "bucket" / "idx" / "post")
    os.makedirs(os.path.dirname(path))     # the bucket double
    for loc in (path, path + "/", f"mock://{path}"):
        pub = publish.open_root(loc)
        assert pub.store.root == str(tmp_path / "bucket" / "idx")
        assert pub.root == "post"
        assert pub.data_path("post/x") == os.path.join(path, "x")
    s3 = publish.open_root("s3://some-bucket/indexes/lsh", cas=True)
    assert s3.store.bucket == "some-bucket" and s3.cas
    assert s3.root == "indexes/lsh"
    assert s3.data_path("indexes/lsh/layout-v00001/x.parquet") \
        == "s3a://some-bucket/indexes/lsh/layout-v00001/x.parquet"
    with pytest.raises(ValueError, match="s3://bucket/prefix"):
        publish.open_root("s3://bucket-only")
    with pytest.raises(ValueError, match="scheme"):
        publish.open_root("ftp://nope/x")
    # a mistyped mock root is refused, not opened as an empty bucket
    with pytest.raises(ValueError, match="must exist"):
        publish.open_root(f"mock://{tmp_path}/missing/idx")


def test_resolve_passes_data_plane_uris_through():
    """``resolve`` opens only index-root spellings; any other scheme —
    e.g. the ``s3a://`` layout path an s3 root resolves to, which the
    ivf census and probes then resolve again — is an unversioned
    data-plane path and comes back unchanged, with no store call."""
    for loc in ("s3a://b/x", "s3a://b/idx/layout-v00002",
                "file:///tmp/x", "hdfs://nn:8020/idx"):
        assert publish.resolve(loc) == loc


def test_pointer_roundtrip_and_guards(tmp_path):
    """Unversioned resolve, monotone versions, fresh-layout naming and
    every publish guard — with 'exists' meaning 'holds at least one
    object': an empty directory is not a layout."""
    loc = str(tmp_path / "idx")
    pub = publish.open_root(loc)

    # unversioned root resolves to itself
    assert pub.resolve() == "idx" and publish.resolve(loc) == loc
    assert pub.current_version() is None

    v1 = pub.new_layout_dir()
    assert v1 == "idx/layout-v00001"
    os.makedirs(pub.data_path(v1))
    with pytest.raises(ValueError, match="no objects"):
        pub.publish(v1)                    # empty dir: nothing written
    _write(pub, v1)
    assert pub.publish(v1) == 1
    assert pub.resolve() == v1
    assert publish.resolve(loc) == pub.data_path(v1)
    assert pub.current_version() == 1

    v2 = pub.new_layout_dir()
    assert v2 == "idx/layout-v00002"
    _write(pub, v2, b"data2")
    assert pub.publish(v2) == 2
    assert publish.resolve(loc) == pub.data_path(v2)

    with pytest.raises(ValueError, match="direct child"):
        pub.publish("elsewhere/layout-v00003")
    with pytest.raises(ValueError, match="direct child"):
        pub.publish(f"{v2}/inner")         # nested too deep
    with pytest.raises(ValueError, match="no objects"):
        pub.publish("idx/layout-v00009")
    with pytest.raises(ValueError, match="already the live"):
        pub.publish(v2)
    with pytest.raises(ValueError, match="pointer, not a layout"):
        pub.publish(f"idx/{publish.POINTER}")


def test_crash_before_publish_leaves_old_version_live(tmp_path):
    """The crash contract: a writer that wrote layout objects but died
    before the pointer PUT leaves every reader on the old version;
    the partial layout is never resolved and its name is never
    reused.  An empty directory (a writer that died before its first
    object) is not a layout, so its name may be reused."""
    loc = f"mock://{tmp_path}/idx"
    pub = publish.open_root(loc)
    v1 = pub.new_layout_dir()
    _write(pub, v1, b"v1")
    pub.publish(v1)

    orphan = pub.new_layout_dir()
    _write(pub, orphan, b"partial")        # crashed here
    assert pub.resolve() == v1
    assert pub.current_version() == 1
    nxt = pub.new_layout_dir()
    assert nxt == "idx/layout-v00003"
    os.makedirs(pub.data_path(nxt))        # died before any object
    assert pub.new_layout_dir() == nxt
    # a crashed pointer PUT's temp object is invisible to readers
    with open(pub.data_path(f"idx/{publish.POINTER}.deadbeef.tmp"),
              "w") as f:
        f.write("{\"version\": 99")        # torn JSON
    assert publish.resolve(loc) == pub.data_path(v1)


def test_prune_keeps_horizon_and_skips_orphans(tmp_path):
    """Prune = paged list + idempotent deletes over retired layout
    prefixes: the newest ``keep`` versions stay, never-published
    orphans stay, no object remains under a retired prefix, and a
    re-run at the horizon is a no-op."""
    pub = publish.open_root(str(tmp_path / "idx"))
    layouts = []
    for _ in range(4):
        d = pub.new_layout_dir()
        # several objects per layout so prune really pages/deletes >1
        for j in range(3):
            pub.store.put(f"{d}/part-{j}.parquet", b"x")
        layouts.append(d)
        pub.publish(d)
    orphan_key = "idx/layout-v00099/part-0.parquet"
    pub.store.put(orphan_key, b"inflight")

    with pytest.raises(ValueError, match="keep"):
        pub.prune(keep=0)
    assert sorted(pub.prune(keep=2)) == sorted(layouts[:2])
    for d in layouts[:2]:
        assert pub.store.list(f"{d}/") == []
    for d in layouts[2:]:
        assert len(pub.store.list(f"{d}/")) == 3
    assert pub.store.list(orphan_key) == [orphan_key], \
        "never-published prefixes are not GC'd"
    assert pub.resolve() == layouts[3]
    assert pub.prune(keep=2) == []         # idempotent at the horizon
    meta = json.loads(pub.store.get(f"idx/{publish.POINTER}"))
    assert [h["version"] for h in meta["history"]] == [3, 4]


def test_old_posix_root_resolves_and_accepts_next_publish(tmp_path):
    """A root written in the earlier POSIX format — a hand-written
    ``_current.json``, layout directories, and a stale
    ``_current.json.inprogress`` left by a crashed pointer write —
    stays readable, and takes the next publish and prune."""
    root = tmp_path / "idx"
    for n in (1, 2):
        d = root / f"layout-v{n:05d}"
        (d / "bucket=0").mkdir(parents=True)
        (d / "bucket=0" / "part-0.parquet").write_bytes(b"v%d" % n)
    (root / publish.POINTER).write_text(json.dumps(
        {"version": 2, "dir": "layout-v00002",
         "history": [{"version": 1, "dir": "layout-v00001"},
                     {"version": 2, "dir": "layout-v00002"}]}))
    (root / f"{publish.POINTER}.inprogress").write_text(
        "{\"version\": 3, \"dir\": \"layout-v0")   # torn temp

    loc = str(root)
    assert publish.resolve(loc) == str(root / "layout-v00002")
    pub = publish.open_root(loc)
    assert pub.current_version() == 2
    v3 = pub.new_layout_dir()
    assert v3 == "idx/layout-v00003"
    _write(pub, v3, b"v3")
    assert pub.publish(v3) == 3
    assert publish.resolve(loc) == str(root / "layout-v00003")
    assert pub.prune(keep=2) == ["idx/layout-v00001"]
    assert pub.store.list("idx/layout-v00001/") == []
    assert pub.store.list("idx/layout-v00002/")
    assert json.loads((root / publish.POINTER).read_text()) == {
        "version": 3, "dir": "layout-v00003",
        "history": [{"version": 2, "dir": "layout-v00002"},
                    {"version": 3, "dir": "layout-v00003"}]}


def test_lsh_probe_through_pointer(spark, sf_smoke, tmp_path):
    """Probe/append take a versioned root interchangeably with a
    plain layout dir, and a publish mid-lifecycle atomically moves
    probes from the layered to the compacted layout with identical
    results (the l17 probe_parity claim, now through the pointer);
    a fully written but unpublished layout leaves v1 live, and the
    keep=2 prune horizon holds v1's objects."""
    doc = load_table(spark, sf_smoke, "documents").limit(40)
    base, batch = doc.limit(30), doc.limit(40).exceptAll(doc.limit(30))
    root = str(tmp_path / "lsh_root")
    pub = publish.open_root(root)
    v1 = _publish_new(pub, lambda p: dedup.lsh_index_write(base, p))

    def probe(target):
        return sorted(map(tuple, dedup.lsh_index_probe(
            spark, target, batch).collect()))

    routed = probe(root)
    assert routed == probe(pub.data_path(v1)) and routed

    # append through the root lands in the live layout
    dedup.lsh_index_append(batch, root)
    n_rows = spark.read.parquet(pub.data_path(v1)).count()
    assert n_rows == (base.count() + batch.count()) * dedup.N_BANDS

    # compact into v2, publish: the routed probe follows the pointer
    v2 = pub.new_layout_dir()
    dedup.lsh_index_compact(spark, [publish.resolve(root)],
                            pub.data_path(v2))
    before = probe(root)                   # v2 written, NOT published
    assert pub.resolve() == v1             # crash window: v1 live
    pub.publish(v2)
    assert probe(root) == before and before
    assert publish.resolve(root) == pub.data_path(v2)
    pub.prune(keep=2)
    assert pub.store.list(f"{v1}/"), "keep=2 horizon holds v1 alive"


def test_postings_probe_through_pointer(spark, tmp_path):
    rows = [(1, "big cat big"), (2, "big cat"), (3, "big dog"),
            (4, "cat big")]
    doc = spark.createDataFrame(rows, "doc_id long, text string")
    root = str(tmp_path / "post_root")
    _publish_new(publish.open_root(root),
                 lambda p: T.postings_index_write(doc, p, n_buckets=8))
    got = {(r["doc_id"], r["total_tf"])
           for r in T.postings_probe_and(spark, root, ["big", "cat"],
                                         n_buckets=8).collect()}
    assert got == {(1, 3), (2, 2), (4, 2)}


def test_ivf_centroid_sidecar_roundtrip_and_probe(spark, tmp_path):
    """Centroids persisted INTO the layout are bit-exact on re-read
    (JSON float repr is roundtrip-exact) and the probe through the
    versioned root with the sidecar centroids equals the probe with
    the in-memory matrix on the plain dir."""
    import numpy as np
    rng = np.random.default_rng(5)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=4)])
         for i in range(80)], "vec_id long, embedding array<float>")
    root = str(tmp_path / "ivf_root")
    pub = publish.open_root(root)
    key = pub.new_layout_dir()
    v1 = pub.data_path(key)
    cmat = S.ivf_index_write(emb, v1, n_cells=8)
    S.ivf_centroids_write(v1, cmat)
    pub.publish(key)

    assert (S.ivf_centroids_read(root) == cmat).all()
    assert S.ivf_centroids_read(root).dtype == np.float64

    pred = "vec_id < 3"
    direct = S.ivf_index_probe(spark, v1, cmat, emb, pred, k=4)
    routed = S.ivf_index_probe(spark, root, S.ivf_centroids_read(root),
                               emb, pred, k=4)
    assert sorted(map(tuple, direct.collect())) \
        == sorted(map(tuple, routed.collect()))
    assert S.ivf_cell_census(spark, root) \
        == S.ivf_cell_census(spark, v1)


def test_maintenance_sweep_requires_versioned_root(spark, tmp_path):
    bare = str(tmp_path / "bare")
    os.makedirs(bare)
    pub = publish.open_root(bare)
    for kind in maintenance.SWEEP_KINDS:
        with pytest.raises(ValueError, match="VERSIONED"):
            maintenance.compaction_sweep(spark, pub, kind)
    with pytest.raises(ValueError, match="VERSIONED"):
        maintenance.vocab_maintenance_sweep(spark, pub, None)
    with pytest.raises(ValueError, match="VERSIONED"):
        maintenance.nb_maintenance_sweep(spark, pub, None)


def test_compact_is_due_predicate():
    assert not maintenance.compact_is_due(1)
    assert not maintenance.compact_is_due(3)
    assert maintenance.compact_is_due(4)
    assert maintenance.compact_is_due(2, threshold=2)
    with pytest.raises(ValueError, match="threshold"):
        maintenance.compact_is_due(5, threshold=1)


def test_lsh_maintenance_sweep_end_to_end(spark, sf_smoke, tmp_path):
    """The l17 small-file decay story, driven through the daemon
    loop's one-shot form instead of by hand: appends decay the
    layout; the sweep measures it (paged ``bucket=N`` key census),
    compacts into a fresh layout, publishes, and restores
    one-file-per-bucket — while a not-due sweep is a no-op and probe
    results are identical across the swap."""
    doc = load_table(spark, sf_smoke, "documents").limit(40)
    base, batch = doc.limit(30), doc.limit(40).exceptAll(doc.limit(30))
    root = str(tmp_path / "root")
    pub = publish.open_root(root)
    v1 = _publish_new(pub, lambda p: dedup.lsh_index_write(base, p))

    def sweep():
        return maintenance.compaction_sweep(spark, pub, "lsh",
                                            threshold=3)

    r0 = sweep()
    assert r0["due"] is False and r0["acted"] is False
    assert r0["version_before"] == r0["version_after"] == 1
    assert r0["index_root"] == root

    for _ in range(3):                      # decay the layout
        dedup.lsh_index_append(batch, root)
    mx, _n, _t = maintenance.store_bucket_census(pub.store, v1)
    assert mx >= 3
    probe = lambda: sorted(map(tuple, dedup.lsh_index_probe(
        spark, root, batch).collect()))
    probe_before = probe()
    r1 = sweep()
    assert r1["due"] and r1["acted"]
    assert r1["version_after"] == 2
    assert r1["files_before"] > r1["files_after"]
    mx, n, total = maintenance.store_bucket_census(pub.store,
                                                   pub.resolve())
    assert mx == 1 and total == n       # canonical layout restored
    assert probe() == probe_before and probe_before
    # prune horizon: keep=2 leaves v1 alive for in-flight readers
    assert pub.store.list(f"{v1}/")
    # next sweep: freshly compacted, not due
    r2 = sweep()
    assert not r2["due"] and r2["version_after"] == 2


def test_ivf_maintenance_sweep_on_planted_drift(spark, tmp_path):
    """The x133 cadence trigger wired end-to-end, on a ``mock://``
    root: balanced build not due; appending a shifted tight mode
    makes it due; the sweep re-centroids into a fresh layout, stamps
    the centroid sidecar, publishes, and the routed probe serves the
    new quantizer."""
    import numpy as np
    rng = np.random.default_rng(11)
    base = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=4)])
         for i in range(64)], "vec_id long, embedding array<float>")
    root = f"mock://{tmp_path}/ivf_root"
    pub = publish.open_root(root)
    cmat = {}

    def build(path):
        cmat["v1"] = S.ivf_index_write(base, path, n_cells=8)
        S.ivf_centroids_write(path, cmat["v1"])

    _publish_new(pub, build)
    r0 = maintenance.compaction_sweep(spark, pub, "ivf", n_cells=8)
    assert not r0["due"] and r0["version_after"] == 1

    center = np.array([8.0, 0.0, 0.0, 0.0])
    drift = spark.createDataFrame(
        [(1000 + i,
          [float(x) for x in center + 0.3 * rng.normal(size=4)])
         for i in range(200)], "vec_id long, embedding array<float>")
    (S.ivf_assign(drift, cmat["v1"]).write.mode("append")
     .partitionBy("cell").parquet(publish.resolve(root)))

    r1 = maintenance.compaction_sweep(spark, pub, "ivf", n_cells=8)
    assert r1["due"] and r1["acted"] and r1["version_after"] == 2
    live = publish.resolve(root)
    assert os.path.exists(os.path.join(live, "_ivf_centroids.json"))
    # recluster == rebuild (the x133 identity), through the pointer
    rebuild = str(tmp_path / "rebuild")
    S.ivf_index_write(base.unionByName(drift), rebuild, n_cells=8)
    assert S.ivf_cell_census(spark, root) \
        == S.ivf_cell_census(spark, rebuild)
    # the published sidecar equals a fresh retrain on the contents
    assert (S.ivf_centroids_read(root)
            == S.ivf_centroids(base.unionByName(drift), 8)).all()
    # no settled assertion: this fixture's true distribution is
    # bimodal, so the reclustered layout may legitimately remain
    # skew-flagged


def test_postings_maintenance_sweep(spark, tmp_path):
    """The postings sweep: shared ``bucket=N`` key census, x123
    compaction as the rewrite, one publish; probe correct through
    the routed live layout after the compact, then settled."""
    doc = spark.createDataFrame(
        [(1, "big cat big"), (2, "big cat"), (3, "big dog"),
         (4, "cat big")], "doc_id long, text string")
    root = str(tmp_path / "root")
    pub = publish.open_root(root)
    _publish_new(pub, lambda p: T.postings_index_write(
        doc.filter("doc_id <= 2"), p, n_buckets=8))
    for did in (3, 4):
        T.postings_index_append(doc.filter(f"doc_id = {did}"), root,
                                n_buckets=8)
    r = maintenance.compaction_sweep(spark, pub, "postings",
                                     threshold=2)
    assert r["due"] and r["version_after"] == 2
    got = {(x["doc_id"], x["total_tf"])
           for x in T.postings_probe_and(spark, root, ["big", "cat"],
                                         n_buckets=8).collect()}
    assert got == {(1, 3), (2, 2), (4, 2)}
    mx, n, total = maintenance.store_bucket_census(pub.store,
                                                   pub.resolve())
    assert mx == 1 and total == n
    r2 = maintenance.compaction_sweep(spark, pub, "postings",
                                      threshold=2)
    assert not r2["due"] and r2["version_after"] == 2


def test_maintenance_daemon_loop_and_error_surfacing(spark, tmp_path):
    """The watch_daemon analog: the background loop runs every sweep
    per tick and stops gracefully, keeping no per-tick state (the
    thunk owns its report rows); a sweep raising stops the loop and
    re-raises on stop() instead of silently letting the index decay
    while looking healthy."""
    import time

    doc = spark.createDataFrame(
        [(1, "big cat"), (2, "cat dog")], "doc_id long, text string")
    pub = publish.open_root(str(tmp_path / "root"))
    _publish_new(pub, lambda p: T.postings_index_write(doc, p,
                                                       n_buckets=4))

    rows = []
    d = maintenance.maintenance_daemon(
        [lambda: rows.append(maintenance.compaction_sweep(
            spark, pub, "postings"))],
        poll_seconds=0.05)
    state = dict(vars(d))
    deadline = time.time() + 60
    while len(rows) < 3 and time.time() < deadline:
        time.sleep(0.05)
    d.stop()
    assert len(rows) >= 3 and all(r["kind"] == "postings"
                                  for r in rows)
    assert all(not r["acted"] for r in rows)  # healthy: no-op
    # N ticks later the daemon holds exactly what it started with
    assert vars(d).keys() == state.keys()
    assert all(vars(d)[k] is v for k, v in state.items())

    def boom():
        raise RuntimeError("sweep exploded")

    d2 = maintenance.maintenance_daemon([boom], poll_seconds=0.2)
    deadline = time.time() + 60
    while d2._error is None and time.time() < deadline:
        time.sleep(0.05)
    with pytest.raises(RuntimeError, match="sweep exploded"):
        d2.stop()


def test_cli_maintain_once_and_daemon(spark, tmp_path, capsys):
    """`python -m samplebatchprocessing_spark maintain` drives the
    sweep from the shell — the reference's CLI discipline (GetJobs
    is shell-driven) applied to index upkeep.  A plain path and a
    ``mock://`` uri are two spellings of one root, and ``--cas``
    (conditional pointer writes) works on either: --once runs one
    decision (cron mode) — decayed acts once, settled reports
    not-due."""
    from samplebatchprocessing_spark.__main__ import main

    doc = spark.createDataFrame(
        [(1, "big cat"), (2, "cat dog"), (3, "dog bird")],
        "doc_id long, text string")
    os.makedirs(tmp_path / "bucket")       # the mock bucket double
    for root in (str(tmp_path / "root"), f"mock://{tmp_path}/bucket/idx"):
        pub = publish.open_root(root)
        _publish_new(pub, lambda p: T.postings_index_write(
            doc.filter("doc_id = 1"), p, n_buckets=4))
        for did in (2, 3):
            T.postings_index_append(doc.filter(f"doc_id = {did}"),
                                    root, n_buckets=4)

        assert main(["maintain", "postings", root, "--once",
                     "--threshold", "2", "--cas"]) == 0
        out = capsys.readouterr().out
        assert "due=True" in out and "v1 -> v2" in out
        assert pub.current_version() == 2
        mx, n, total = maintenance.store_bucket_census(pub.store,
                                                       pub.resolve())
        assert mx == 1 and total == n

        # healthy index: a second --once sweep reports not-due
        assert main(["maintain", "postings", root, "--once",
                     "--threshold", "2"]) == 0
        assert "due=False" in capsys.readouterr().out
        assert pub.current_version() == 2


def test_stream_probe_across_midstream_publish(spark, sf_smoke,
                                               tmp_path):
    """r11: serving continuity under maintenance for the STREAMING
    read path — s26's foreachBatch probe runs against a versioned
    root while a compaction publishes BETWEEN micro-batches.  Each
    epoch resolves the pointer once (epochs before the swap serve
    v1, epochs after serve v2), and because compaction is a pure
    layout change the union of streamed epochs still equals the
    one-shot batch probe exactly."""
    from samplebatchprocessing_spark.operators import dedup as D

    doc = load_table(spark, sf_smoke, "documents").limit(40)
    base = doc.limit(30)
    shard = doc.limit(40).exceptAll(doc.limit(30))

    root = str(tmp_path / "root")
    pub = publish.open_root(root)
    _publish_new(pub, lambda p: D.lsh_index_write(base, p))
    D.lsh_index_append(shard.limit(3), root)   # decayed layout

    stream_dir = str(tmp_path / "shards")
    shard.repartition(3).write.parquet(stream_dir)
    out_dir = str(tmp_path / "cand")
    ckpt = str(tmp_path / "ckpt")
    state = {"published": False, "epoch_versions": []}

    def probe_batch(df, batch_id):
        state["epoch_versions"].append(pub.current_version())
        (D.lsh_index_probe(spark, root, df)
         .write.mode("overwrite")
         .parquet(os.path.join(out_dir, f"epoch={batch_id}")))
        if not state["published"]:     # maintenance lands mid-stream
            _publish_new(pub, lambda p: D.lsh_index_compact(
                spark, [publish.resolve(root)], p))
            state["published"] = True

    schema = spark.read.parquet(stream_dir).schema
    sdf = (spark.readStream.schema(schema)
           .option("pathGlobFilter", "*.parquet")
           .option("maxFilesPerTrigger", 1).parquet(stream_dir))
    q = (sdf.writeStream.foreachBatch(probe_batch)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()

    assert pub.current_version() == 2
    assert len(state["epoch_versions"]) >= 2, "need multiple epochs"
    assert state["epoch_versions"][0] == 1       # pre-swap epoch
    assert state["epoch_versions"][-1] == 2      # post-swap epoch
    streamed = (spark.read.parquet(f"{out_dir}/epoch=*")
                .select("batch_id", "corpus_id").distinct())
    oneshot = D.lsh_index_probe(spark, root, shard)
    assert (streamed.exceptAll(oneshot).count() == 0
            and oneshot.exceptAll(streamed).count() == 0
            and streamed.count() > 0)


def test_probes_stay_consistent_under_live_daemon(spark, sf_smoke,
                                                  tmp_path):
    """r11: the concurrency form of the composes-with-in-flight-
    probes claim — not interleaved steps but a REAL background
    maintenance daemon compacting and publishing while the
    foreground probes in a loop.  Every probe must return the same
    candidate set (compaction is a pure layout change and each probe
    resolves one consistent version); the daemon must have acted
    exactly once (hysteresis) by the time it is stopped."""
    import time

    doc = load_table(spark, sf_smoke, "documents").limit(40)
    base, batch = doc.limit(30), doc.limit(40).exceptAll(doc.limit(30))
    root = str(tmp_path / "root")
    pub = publish.open_root(root)
    _publish_new(pub, lambda p: dedup.lsh_index_write(base, p))
    for _ in range(3):                        # decay the layout
        dedup.lsh_index_append(batch.limit(3), root)

    expected = sorted(map(tuple,
                          dedup.lsh_index_probe(spark, root,
                                                batch).collect()))
    acted = []
    d = maintenance.maintenance_daemon(
        [lambda: acted.append(maintenance.compaction_sweep(
            spark, pub, "lsh", threshold=3)["acted"])],
        poll_seconds=0.1)
    try:
        deadline = time.time() + 120
        probes = 0
        while time.time() < deadline:
            got = sorted(map(tuple,
                             dedup.lsh_index_probe(spark, root,
                                                   batch).collect()))
            assert got == expected, f"probe #{probes} diverged"
            probes += 1
            if any(acted) and probes >= 3:
                break
    finally:
        d.stop()
    assert probes >= 3
    assert sum(acted) == 1
    assert pub.current_version() == 2
    # and the world after the daemon: canonical layout, same answers
    mx, n, total = maintenance.store_bucket_census(pub.store,
                                                   pub.resolve())
    assert mx == 1 and total == n
    final = sorted(map(tuple,
                       dedup.lsh_index_probe(spark, root,
                                             batch).collect()))
    assert final == expected


# ---------------------------------------------------------------------------
# trained-artifact layouts (operators/artifacts.py — x135/x136)
# ---------------------------------------------------------------------------

def test_bpe_vocab_publish_lifecycle(tmp_path):
    from samplebatchprocessing_spark.operators import artifacts as A
    root = str(tmp_path / "vocab")
    pub = publish.open_root(root)
    m1 = [(1, "t", "h", "th", 9), (2, "th", "e", "the", 7)]
    v1 = pub.new_layout_dir()
    A.bpe_vocab_write(m1, pub.data_path(v1))
    assert pub.publish(v1) == 1
    assert A.bpe_vocab_read(root) == (("t", "h", "th"),
                                      ("th", "e", "the"))
    # retrain: a FRESH layout; until publish, readers stay on v1
    m2 = m1 + [(3, "a", "n", "an", 5)]
    v2 = pub.new_layout_dir()
    A.bpe_vocab_write(m2, pub.data_path(v2))
    assert len(A.bpe_vocab_read(root)) == 2     # crash window: v1 live
    assert pub.publish(v2) == 2
    assert len(A.bpe_vocab_read(root)) == 3     # order preserved
    assert A.bpe_vocab_read(root)[2] == ("a", "n", "an")
    assert pub.store.list(f"{v1}/")             # read horizon intact


def test_bpe_vocab_read_guards(tmp_path):
    from samplebatchprocessing_spark.operators import artifacts as A
    root = str(tmp_path / "not_a_vocab")
    os.makedirs(root)
    with pytest.raises(FileNotFoundError, match="vocab.json"):
        A.bpe_vocab_read(root)
    with open(os.path.join(root, "vocab.json"), "w") as f:
        json.dump({"format": "nb_model"}, f)
    with pytest.raises(ValueError, match="not a bpe_vocab"):
        A.bpe_vocab_read(root)


def test_nb_model_publish_roundtrip(spark, tmp_path):
    from samplebatchprocessing_spark.operators import artifacts as A
    root = str(tmp_path / "nb")
    pub = publish.open_root(root)
    cnt = spark.createDataFrame(
        [("aa", 3, 1), ("bb", 0, 7)], "tok string, pc long, nc long")
    _publish_new(pub, lambda p: A.nb_model_write(cnt, 11, 22, p))
    got, np_, nn = A.nb_model_read(spark, root)
    assert (np_, nn) == (11, 22)
    assert sorted(got.collect()) == sorted(cnt.collect())
    # model read through the pointer is the LIVE version only
    _publish_new(pub, lambda p: A.nb_model_write(
        cnt.withColumn("pc", cnt.pc + 1), 12, 22, p))
    got2, np2, _ = A.nb_model_read(spark, root)
    assert np2 == 12
    assert {r["pc"] for r in got2.collect()} == {4, 1}


def test_nb_model_read_guards(spark, tmp_path):
    from samplebatchprocessing_spark.operators import artifacts as A
    root = str(tmp_path / "empty")
    os.makedirs(root)
    with pytest.raises(FileNotFoundError, match="_nb_meta"):
        A.nb_model_read(spark, root)


# ---------------------------------------------------------------------------
# artifact retrain due-predicates + sweeps
# ---------------------------------------------------------------------------

def test_vocab_retrain_predicate_pure():
    """Upward fertility drift >= bound triggers; downward drift never
    does (a vocabulary is not wrong for over-covering); bound >= 1."""
    due = maintenance.vocab_retrain_is_due
    assert due(4200, 4000, max_drift_x1000=150) is True
    assert due(4149, 4000, max_drift_x1000=150) is False
    assert due(4150, 4000, max_drift_x1000=150) is True
    assert due(3000, 4000, max_drift_x1000=150) is False  # downward
    with pytest.raises(ValueError, match=">= 1"):
        due(4200, 4000, max_drift_x1000=0)


def test_nb_retrain_predicate_pure():
    """Either signal triggers: OOV token mass >= bound, or class-prior
    shift >= bound (absolute, either direction); bounds >= 1."""
    due = maintenance.nb_retrain_is_due
    assert due(0, 500, 500) is False
    assert due(100, 500, 500) is True            # OOV at the bound
    assert due(99, 500, 500) is False
    assert due(0, 760, 500) is True              # prior up-shift
    assert due(0, 240, 500) is True              # prior down-shift
    assert due(0, 740, 500) is False             # inside the band
    with pytest.raises(ValueError, match=">= 1"):
        due(0, 500, 500, max_oov_x1000=0)
    with pytest.raises(ValueError, match=">= 1"):
        due(0, 500, 500, max_prior_drift_x1000=0)


def test_vocab_sweep_requires_fertility_stamp(spark, tmp_path):
    """A pre-r12 vocab layout (no at-training fertility stamp) has no
    drift baseline — the sweep must refuse loudly, not guess."""
    from samplebatchprocessing_spark.operators import artifacts
    pub = publish.open_root(str(tmp_path / "vocab_root"))
    df = spark.createDataFrame([(1, "aa bb aa bb")],
                               "doc_id long, text string")
    merges = T.bpe_train_merges(df, n_merges=1)
    _publish_new(pub, lambda p: artifacts.bpe_vocab_write(
        merges, p))                              # no stamp
    with pytest.raises(ValueError, match="fertility_x1000"):
        maintenance.vocab_maintenance_sweep(spark, pub, df)


def test_vocab_sweep_planted_drift_retrains_once(spark, tmp_path):
    """The x134 hysteresis on the tokenizer artifact: healthy slice
    not due -> reversed-word slice triggers exactly one
    retrain-and-publish -> same slice settled under the new vocab."""
    from pyspark.sql import functions as F

    from samplebatchprocessing_spark.operators import artifacts
    root = str(tmp_path / "vocab_root")
    pub = publish.open_root(root)
    rows = [(i, "the cat and the hat and the bat") for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    m1 = T.bpe_train_merges(df, n_merges=3)
    rules = tuple((l, r, m) for _, l, r, m, _ in m1)
    f1 = T.encode_fertility_x1000(df, rules)
    v1 = _publish_new(pub, lambda p: artifacts.bpe_vocab_write(
        m1, p, fertility_x1000=f1))

    r0 = maintenance.vocab_maintenance_sweep(spark, pub, df,
                                             n_merges=3)
    assert not r0["due"] and r0["version_after"] == 1
    assert r0["fertility_fresh_x1000"] == f1

    drifted = df.withColumn("text", F.reverse(F.col("text")))
    r1 = maintenance.vocab_maintenance_sweep(spark, pub, drifted,
                                             n_merges=3)
    assert r1["due"] and r1["acted"] and r1["version_after"] == 2
    assert (r1["fertility_fresh_x1000"]
            - r1["fertility_trained_x1000"]) >= 150

    r2 = maintenance.vocab_maintenance_sweep(spark, pub, drifted,
                                             n_merges=3)
    assert not r2["due"] and r2["version_after"] == 2
    # the retrained vocab serves through the pointer
    served = artifacts.bpe_vocab_read(root)
    assert len(served) == 3
    # prune horizon: v1 still on disk after the v2 publish
    assert pub.store.list(f"{v1}/")


def test_nb_sweep_planted_novelty_folds_once(spark, tmp_path):
    """OOV-mass drift triggers exactly one fold-and-publish; the
    folded model contains every fresh token so the re-sweep is
    settled (OOV exactly 0); empty fresh slice refused."""
    from pyspark.sql import functions as F

    from samplebatchprocessing_spark.operators import artifacts
    root = str(tmp_path / "nb_root")
    pub = publish.open_root(root)
    rows = [(i, "good clean text here", i % 2 == 0) for i in range(8)]
    lab = spark.createDataFrame(
        rows, "doc_id long, text string, is_pos boolean")
    toks = lab.select("is_pos",
                      F.explode(T.tokenize(F.col("text"))).alias("tok"))
    cnt = (toks.groupBy("tok")
           .agg(F.sum(F.col("is_pos").cast("long")).alias("pc"),
                F.sum((~F.col("is_pos")).cast("long")).alias("nc")))
    _publish_new(pub, lambda p: artifacts.nb_model_write(cnt, 4, 4, p))

    s0 = maintenance.nb_maintenance_sweep(spark, pub, lab)
    assert not s0["due"] and s0["oov_x1000"] == 0
    assert s0["fresh_prior_x1000"] == s0["model_prior_x1000"] == 500

    fresh = lab.withColumn("text", F.reverse(F.col("text")))
    s1 = maintenance.nb_maintenance_sweep(spark, pub, fresh)
    assert s1["due"] and s1["acted"] and s1["version_after"] == 2
    assert s1["oov_x1000"] >= 100

    s2 = maintenance.nb_maintenance_sweep(spark, pub, fresh)
    assert not s2["due"] and s2["oov_x1000"] == 0
    assert s2["version_after"] == 2
    # the folded model's priors carry both slices
    _cnt, np_, nn = artifacts.nb_model_read(spark, root)
    assert (np_, nn) == (8, 8)

    with pytest.raises(ValueError, match="non-empty"):
        maintenance.nb_maintenance_sweep(
            spark, pub, lab.filter("doc_id < 0"))


def test_cli_maintain_artifact_roots(spark, tmp_path, capsys):
    """One `maintain` CLI covers indexes AND trained artifacts — the
    vocab kind runs the retrain sweep against a --fresh-parquet
    slice on a ``mock://`` root, refuses without one (or on an
    ``s3://`` root, whose artifacts ``open()`` cannot read), and
    reports the fertility drift it measured."""
    from pyspark.sql import functions as F

    from samplebatchprocessing_spark.__main__ import main
    from samplebatchprocessing_spark.operators import artifacts

    rows = [(i, "the cat and the hat and the bat") for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    root = f"mock://{tmp_path}/vocab_root"
    pub = publish.open_root(root)
    m1 = T.bpe_train_merges(df, n_merges=3)
    rules = tuple((l, r, m) for _, l, r, m, _ in m1)
    _publish_new(pub, lambda p: artifacts.bpe_vocab_write(
        m1, p, fertility_x1000=T.encode_fertility_x1000(df, rules)))

    # no fresh slice -> loud refusal, exit 2
    assert main(["maintain", "vocab", root, "--once"]) == 2
    assert "--fresh-parquet" in capsys.readouterr().err

    fresh_dir = str(tmp_path / "fresh")
    (df.withColumn("text", F.reverse(F.col("text")))
       .write.parquet(fresh_dir))
    assert main(["maintain", "vocab", root, "--once",
                 "--fresh-parquet", fresh_dir,
                 "--n-merges", "3"]) == 0
    out = capsys.readouterr().out
    assert "due=True" in out and "v1 -> v2" in out
    assert "fertility" in out
    assert pub.current_version() == 2

    # settled: the retrained vocab covers the drifted slice
    assert main(["maintain", "vocab", root, "--once",
                 "--fresh-parquet", fresh_dir,
                 "--n-merges", "3"]) == 0
    assert "due=False" in capsys.readouterr().out
    assert pub.current_version() == 2
    # trained-artifact kinds refuse s3:// roots loudly
    assert main(["maintain", "vocab", "s3://some-bucket/vocab",
                 "--once", "--fresh-parquet", fresh_dir]) == 2
    assert "open()" in capsys.readouterr().err


# ---------------------------------------------------------------------------
# concurrent maintainers on one bucket root
# ---------------------------------------------------------------------------

def _bucket(tmp_path):
    from samplebatchprocessing_spark.pipeline.manifest import (
        LocalObjectStoreClient)
    root = tmp_path / "bucket"
    root.mkdir()
    return LocalObjectStoreClient(str(root))


def test_concurrent_publishers_never_tear_the_pointer(tmp_path):
    """Concurrent-publisher race fuzz (VERDICT r12 #6): two
    interleaved publish sequences against ONE bucket root, every
    writer-order-preserving interleaving drawn from 40 seeds.  The
    invariant under test is the per-PUT atomicity claim: after EVERY
    step, the pointer is either absent or a COMPLETE published
    version — valid JSON, all fields, and the named layout has at
    least one object — and the observed version number never moves
    backwards.  Racing publishers may LOSE an update (last writer
    wins; single-maintainer design, see StorePublisher docstring) or
    collide on a layout name and take the already-live ValueError,
    but no interleaving may ever expose a torn or dangling pointer
    to a reader."""
    import random

    for seed in range(40):
        rng = random.Random(seed)
        d = tmp_path / f"race{seed}"
        d.mkdir()
        store = _bucket(d)
        root = "indexes/race"

        def observe(last_seen: int | None) -> int | None:
            try:
                raw = store.get(f"{root}/{publish.POINTER}")
            except FileNotFoundError:
                return last_seen
            meta = json.loads(raw)       # torn write would die here
            assert {"version", "dir", "history"} <= set(meta)
            assert store.list(f"{root}/{meta['dir']}/"), (
                f"seed {seed}: pointer names layout {meta['dir']} "
                "with no objects")
            v = int(meta["version"])
            if last_seen is not None:
                assert v >= last_seen, (
                    f"seed {seed}: version moved backwards "
                    f"{last_seen} -> {v}")
            return v

        def writer_steps(tag: str):
            pub = publish.StorePublisher(store, root)
            state: dict = {}

            def alloc():
                state["dir"] = pub.new_layout_dir()

            def write():
                store.put(f"{state['dir']}/part-0.parquet",
                          tag.encode())

            def pub_step():
                try:
                    state["v"] = pub.publish(state["dir"])
                except ValueError as e:
                    # the one legal collision: both writers allocated
                    # the same fresh name and the other published it
                    assert "already the live" in str(e)
                    state["v"] = None

            return [alloc, write, pub_step], state

        a_steps, a_state = writer_steps("A")
        b_steps, b_state = writer_steps("B")
        queues = [list(a_steps), list(b_steps)]
        seen: int | None = None
        while queues[0] or queues[1]:
            which = rng.choice([i for i in (0, 1) if queues[i]])
            queues[which].pop(0)()
            seen = observe(seen)

        # end state: at least one writer published; the pointer is a
        # complete version resolving to objects one of them wrote
        final = publish.StorePublisher(store, root)
        assert final.current_version() is not None
        live = final.resolve()
        assert store.get(f"{live}/part-0.parquet") in (b"A", b"B")
        published = [s["v"] for s in (a_state, b_state)
                     if s["v"] is not None]
        assert published, "neither writer published"
        assert final.current_version() == max(published)


def test_publish_inside_prune_window_is_lost_not_torn(tmp_path):
    """The documented lost-update (ADVICE r12, single-maintainer
    design): a publish landing between prune's pointer READ and its
    closing PUT is silently rolled back — last writer wins — but the
    rolled-back pointer is still a COMPLETE earlier version whose
    layout objects exist, and the lost layout's objects remain on
    the bucket (orphaned, re-publishable), so readers never dangle."""
    inner = _bucket(tmp_path)
    root = "idx"

    class InterceptStore:
        """Wraps the bucket; fires a hook once, immediately before
        prune's closing pointer PUT — the widest race window."""

        def __init__(self, store):
            self._store = store
            self.hook = None

        def __getattr__(self, name):
            return getattr(self._store, name)

        def put(self, key, data):
            if key.endswith(publish.POINTER) and self.hook:
                hook, self.hook = self.hook, None
                hook()
            self._store.put(key, data)

    wrapped = InterceptStore(inner)
    maintainer = publish.StorePublisher(wrapped, root)
    racer = publish.StorePublisher(inner, root)

    dirs = []
    for i, tag in enumerate((b"v1", b"v2", b"v3"), 1):
        d = maintainer.new_layout_dir()
        inner.put(f"{d}/part-0.parquet", tag)
        assert maintainer.publish(d) == i
        dirs.append(d)

    racer_state = {}

    def racing_publish():
        d = racer.new_layout_dir()
        inner.put(f"{d}/part-0.parquet", b"v4")
        racer_state["v"] = racer.publish(d)   # v4 goes live...
        racer_state["dir"] = d

    wrapped.hook = racing_publish
    retired = maintainer.prune(keep=2)        # ...and prune rolls it back

    assert racer_state["v"] == 4              # the racer saw success
    assert retired == [dirs[0]]
    final = publish.StorePublisher(inner, root)
    # LOST update: the pointer is back on v3 — complete, resolvable
    assert final.current_version() == 3
    assert inner.get(f"{final.resolve()}/part-0.parquet") == b"v3"
    # the lost layout is orphaned, not corrupted: objects intact,
    # name never reused, re-publishable by the next maintainer pass
    assert inner.get(f"{racer_state['dir']}/part-0.parquet") == b"v4"
    nxt = final.new_layout_dir()
    assert nxt != racer_state["dir"]


def test_nb_sweep_refuses_null_labels_loudly(spark, tmp_path):
    """ADVICE r12: an all-NULL pos_col used to crash with an opaque
    int(None) TypeError (F.sum over all-NULL booleans is NULL), and
    partially-NULL labels silently shrank the prior denominator
    relative to the OOV census.  Both now fail loudly, naming the
    defect, before any drift signal is computed."""
    from pyspark.sql import functions as F

    from samplebatchprocessing_spark.operators import artifacts
    pub = publish.open_root(str(tmp_path / "nb_root"))
    rows = [(i, "good clean text here", i % 2 == 0) for i in range(8)]
    lab = spark.createDataFrame(
        rows, "doc_id long, text string, is_pos boolean")
    toks = lab.select("is_pos",
                      F.explode(T.tokenize(F.col("text"))).alias("tok"))
    cnt = (toks.groupBy("tok")
           .agg(F.sum(F.col("is_pos").cast("long")).alias("pc"),
                F.sum((~F.col("is_pos")).cast("long")).alias("nc")))
    _publish_new(pub, lambda p: artifacts.nb_model_write(cnt, 4, 4, p))

    all_null = lab.withColumn("is_pos",
                              F.lit(None).cast("boolean"))
    with pytest.raises(ValueError, match="TOTAL 'is_pos' label"):
        maintenance.nb_maintenance_sweep(spark, pub, all_null)

    partial = lab.withColumn(
        "is_pos", F.when(F.col("doc_id") < 6, F.col("is_pos")))
    with pytest.raises(ValueError, match="2 of 8 fresh rows"):
        maintenance.nb_maintenance_sweep(spark, pub, partial)

    # total labels still sweep exactly as before
    s0 = maintenance.nb_maintenance_sweep(spark, pub, lab)
    assert not s0["due"] and s0["oov_x1000"] == 0


def test_cas_publishers_lose_no_updates_under_threads(tmp_path):
    """The multi-maintainer upgrade (r13, ADVICE r12): with
    cas=True, N concurrent publishers each land EVERY one of their
    publishes — losers of a pointer race re-read and retry instead
    of silently overwriting.  Real thread contention over the
    flock-serialized file-backed double."""
    import threading

    store = _bucket(tmp_path)
    root = "idx"
    n_threads, n_each = 4, 5
    results: dict[str, list[int]] = {}
    errors: list[Exception] = []
    barrier = threading.Barrier(n_threads)

    def maintainer(tag: str):
        pub = publish.StorePublisher(store, root, cas=True,
                                     cas_retries=200)
        got = results.setdefault(tag, [])
        try:
            barrier.wait()
            for i in range(n_each):
                # each writer writes its OWN uniquely named layout:
                # new_layout_dir races on names, so allocate
                # explicitly (a real maintainer derives the name
                # from its job id for the same reason)
                d = f"{root}/layout-{tag}-{i:03d}"
                store.put(f"{d}/part-0.parquet", tag.encode())
                got.append(pub.publish(d))
        except Exception as e:  # noqa: BLE001 — surface in main thread
            errors.append(e)

    threads = [threading.Thread(target=maintainer, args=(f"w{t}",))
               for t in range(n_threads)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert not errors, errors
    all_versions = sorted(v for got in results.values() for v in got)
    total = n_threads * n_each
    # NO lost update: every publish got a distinct monotone version
    assert all_versions == list(range(1, total + 1))
    final = publish.StorePublisher(store, root)
    assert final.current_version() == total
    meta = json.loads(store.get(f"{root}/{publish.POINTER}"))
    assert [h["version"] for h in meta["history"]] \
        == list(range(1, total + 1))
    # each writer's own versions are strictly increasing
    for got in results.values():
        assert got == sorted(got)


def test_cas_prune_window_race_keeps_the_racing_publish(tmp_path):
    """The CAS counterpart of the lost-update demonstration: with
    cas=True a publish landing between prune's pointer read and its
    closing PUT SURVIVES — prune's stale conditional PUT fails, the
    retry recomputes against the fresh pointer, and v4 stays live."""
    inner = _bucket(tmp_path)
    root = "idx"

    class InterceptStore:
        def __init__(self, store):
            self._store = store
            self.hook = None

        def __getattr__(self, name):
            return getattr(self._store, name)

        def put_if(self, key, data, etag):
            if key.endswith(publish.POINTER) and self.hook:
                hook, self.hook = self.hook, None
                hook()
            return self._store.put_if(key, data, etag)

    wrapped = InterceptStore(inner)
    maintainer = publish.StorePublisher(wrapped, root, cas=True)
    racer = publish.StorePublisher(inner, root, cas=True)

    dirs = []
    for i in range(1, 4):
        d = maintainer.new_layout_dir()
        inner.put(f"{d}/part-0.parquet", f"v{i}".encode())
        assert maintainer.publish(d) == i
        dirs.append(d)

    def racing_publish():
        d = racer.new_layout_dir()
        inner.put(f"{d}/part-0.parquet", b"v4")
        assert racer.publish(d) == 4

    wrapped.hook = racing_publish
    retired = maintainer.prune(keep=2)

    final = publish.StorePublisher(inner, root)
    # v4 SURVIVES (contrast: the plain-mode twin above loses it)
    assert final.current_version() == 4
    assert inner.get(f"{final.resolve()}/part-0.parquet") == b"v4"
    # prune's retry recomputed the horizon against the fresh pointer:
    # with keep=2 both v1 and v2 objects are gone, v3/v4 intact.
    # (The RETURNED list reflects the final attempt only — v1's
    # objects fell in the pre-race attempt, so the retry reports just
    # v2; deletes are idempotent, the report is best-effort under
    # contention.)
    assert retired == [dirs[1]]
    assert inner.list(f"{dirs[0]}/") == []
    assert inner.list(f"{dirs[1]}/") == []
    assert inner.list(f"{dirs[2]}/")
    remaining = {h["version"] for h in json.loads(
        inner.get(f"{root}/{publish.POINTER}"))["history"]}
    assert remaining == {3, 4}
