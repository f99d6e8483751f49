"""Index MAINTENANCE sweeps — the cadence loop that RUNS the
measured due-predicates.

The maintenance passes (``dedup.lsh_index_compact``, ``text.
postings_index_compact``, ``similarity.ivf_index_recluster``) and
their decision predicates (:func:`compact_is_due`,
``similarity.recluster_is_due``) are executed here as the loop
census -> due? -> rewrite -> publish.  The module is shaped like
``pipeline.manifest.watch_daemon``: one-shot sweeps (the
``Trigger.AvailableNow`` analog — run the decision once, act if
due, return a report row) plus :func:`maintenance_daemon` (the
``ProcessingTime`` analog — a caller-owned background loop over the
sweeps with graceful stop, where the CLI wires SIGINT exactly as
``__main__.cmd_watch`` does for the file watcher).

One sweep shape over one publisher (``publish.open_root`` — a plain
path, ``mock://`` or ``s3://`` root alike):
1. CENSUS the live layout (one consistent version) with an
   o(index-metadata) probe;
2. apply the PURE integer due-predicate (unit-testable apart from
   the operator it steers);
3. if due, rewrite into a FRESH layout (``new_layout_dir`` — never
   in place) while probes keep serving the old version;
4. PUBLISH the pointer atomically and prune retired layouts beyond
   the read horizon (keep >= 2, the m10 vacuum-horizon rule).

One table: :data:`SWEEP_KINDS` gives each index family (lsh,
postings, ivf) its census, due-predicate and rewrite, and
:func:`compaction_sweep` runs the chain for any of them.  The two
trained-artifact sweeps (:func:`vocab_maintenance_sweep`,
:func:`nb_maintenance_sweep`) measure a fresh slice against the live
model instead, then publish the same way.

Scale (100 TB): the census is bounded driver metadata (one paged key
listing / one cell-keyed aggregate); the rewrite is the
already-priced maintenance pass, amortized over the cadence; the
swap is one pointer PUT.  A sweep that crashes mid-rewrite leaves
the pointer untouched — readers never see the partial layout and
the next sweep retries into a fresh layout.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from .dedup import lsh_index_compact
from .publish import POINTER
from .similarity import (ivf_cell_census, ivf_centroids_write,
                         ivf_index_recluster, recluster_is_due)
from .text import postings_index_compact

REPORT_SCHEMA = ("index_root string, kind string, due boolean, "
                 "acted boolean, version_before int, "
                 "version_after int, files_before int, "
                 "files_after int")


def store_bucket_census(store, layout_key: str) -> tuple[int, int, int]:
    """(max files in one bucket, nonempty buckets, total files) over
    a bucket-partitioned layout (LSH band index / postings index) —
    the small-file decay measurement.  Pages the layout's keys
    (memory bounded by the page size, never the key count) and
    counts ``*.parquet`` objects per ``bucket=N`` key segment:
    metadata, never data."""
    counts: dict[str, int] = {}
    prefix = layout_key.rstrip("/") + "/"
    for page in store.list_pages(prefix):
        for key in page:
            if not key.endswith(".parquet"):
                continue
            rest = key[len(prefix):]
            seg = rest.split("/", 1)[0]
            if seg.startswith("bucket="):
                counts[seg] = counts.get(seg, 0) + 1
    if not counts:
        return 0, 0, 0
    return max(counts.values()), len(counts), sum(counts.values())


def compact_is_due(max_files: int, threshold: int = 4) -> bool:
    """The compaction-cadence decision predicate (pure, integer): a
    freshly-compacted bucket holds ONE file; every delta append adds
    one file per touched bucket, and each extra file costs a task +
    an open + a lost chance at cross-file row-group skipping on the
    sort key.  Compaction is due when the hottest bucket has
    accumulated >= ``threshold`` files — by then a probe of that
    bucket pays ``threshold`` opens for one bucket's worth of rows.
    ``threshold`` >= 2 (at 1 the sweep would rewrite a
    just-compacted index forever)."""
    if threshold < 2:
        raise ValueError(f"threshold must be >= 2, got {threshold}")
    return max_files >= threshold


def _live(pub, kind: str) -> tuple[str, int]:
    """(live layout key, version) of a versioned root; a sweep on an
    unversioned root has nowhere to swap to."""
    version = pub.current_version()
    if version is None:
        raise ValueError(
            f"{kind} sweep needs a VERSIONED index root (no {POINTER} "
            f"under {pub.root!r}): build into pub.new_layout_dir(), "
            f"then pub.publish() it")
    return pub.resolve(), version


def _rewrite_and_publish(pub, write, keep_versions: int) -> None:
    """Write a fresh layout (``write(path)``), publish it, prune."""
    out = pub.new_layout_dir()
    write(pub.data_path(out))
    pub.publish(out)
    pub.prune(keep=keep_versions)


def _report(pub, kind: str, due: bool, before: int, **detail) -> dict:
    return {"index_root": pub.data_path(pub.root), "kind": kind,
            "due": due, "acted": due, "version_before": before,
            "version_after": pub.current_version(), **detail}


class SweepKind(NamedTuple):
    """One index family's row of :data:`SWEEP_KINDS`."""
    # (spark, pub, layout_key) -> (max, nonempty, total)
    census: Callable
    # (census, threshold, n_cells) -> bool
    is_due: Callable
    # (spark, live_path, out_path, n_cells, sample_cap) -> None
    rewrite: Callable
    # census index reported as files_before / files_after
    report_field: int


def _bucket_kind(compact) -> SweepKind:
    """A bucket-partitioned family's row: paged key census,
    :func:`compact_is_due`, ``compact`` as the rewrite; reports
    total files."""
    return SweepKind(
        census=lambda spark, pub, key: store_bucket_census(pub.store,
                                                           key),
        is_due=lambda c, threshold, n_cells: compact_is_due(c[0],
                                                           threshold),
        rewrite=lambda spark, live, out, n_cells, sample_cap: compact(
            spark, [live], out),
        report_field=2)


def _ivf_recluster(spark, live: str, out: str, n_cells: int,
                   sample_cap: int) -> None:
    # the centroids go INTO the fresh layout, so one pointer swap
    # versions quantizer and cells together (the x133 invariant)
    ivf_centroids_write(out, ivf_index_recluster(spark, live, out,
                                                 n_cells, sample_cap))


SWEEP_KINDS = {
    "lsh": _bucket_kind(lsh_index_compact),
    "postings": _bucket_kind(postings_index_compact),
    "ivf": SweepKind(
        census=lambda spark, pub, key: ivf_cell_census(
            spark, pub.data_path(key)),
        is_due=lambda c, threshold, n_cells: recluster_is_due(
            c[0], n_cells, c[2], threshold),
        rewrite=_ivf_recluster,
        report_field=0),
}


def compaction_sweep(spark, pub, kind: str, threshold: int = 4,
                     n_cells: int = 16, sample_cap: int = 4096,
                     keep_versions: int = 2) -> dict:
    """One maintenance decision for the versioned index root behind
    ``pub`` (a ``publish.StorePublisher``): census the live layout,
    rewrite into a fresh layout iff the kind's due-predicate fires,
    publish, prune.  Returns the report row (REPORT_SCHEMA keys);
    ``acted=False`` sweeps cost one census and nothing else.

    ``kind`` picks the :data:`SWEEP_KINDS` row:

    - ``lsh`` / ``postings``: paged ``bucket=N`` key census;
      compaction is due when the hottest bucket holds >=
      ``threshold`` files (:func:`compact_is_due`); the rewrite is
      the family's compaction; ``files_*`` report total files.
    - ``ivf``: one cell-keyed aggregate; re-centroiding is due when
      the fullest of ``n_cells`` cells holds >= ``threshold`` times
      the mean cell size (``recluster_is_due`` — drifted appends
      crowding stale cells, the x133 trigger); the rewrite
      re-clusters and stamps the centroids into the fresh layout;
      ``files_*`` report the max-cell row count (the skew measure
      the predicate acts on)."""
    k = SWEEP_KINDS[kind]
    live, before = _live(pub, kind)
    c0 = k.census(spark, pub, live)
    due = k.is_due(c0, threshold, n_cells)
    if due:
        _rewrite_and_publish(
            pub, lambda out: k.rewrite(spark, pub.data_path(live), out,
                                       n_cells, sample_cap),
            keep_versions)
    c1 = k.census(spark, pub, pub.resolve())
    return _report(pub, kind, due, before,
                   files_before=c0[k.report_field],
                   files_after=c1[k.report_field])


def vocab_retrain_is_due(fresh_x1000: int, trained_x1000: int,
                         max_drift_x1000: int = 150) -> bool:
    """The tokenizer retrain decision predicate (pure, integer, r12
    — VERDICT r11 #4): a published BPE vocabulary carries its
    AT-TRAINING corpus fertility (``artifacts.bpe_vocab_write``
    stamp); a fresh slice whose fertility under the live merges
    exceeds that baseline by >= ``max_drift_x1000`` (x1000 fixed
    point, i.e. 150 = +0.15 pieces per word) is drifted vocabulary —
    the merges no longer cover what the corpus now says, and every
    encoded sequence pays the shred.  Downward drift (fresh text
    EASIER than training text) never triggers: a vocabulary is not
    wrong for over-covering.  ``max_drift_x1000 >= 1`` — at 0 the
    sweep would retrain on every measurement tick."""
    if max_drift_x1000 < 1:
        raise ValueError(
            f"max_drift_x1000 must be >= 1, got {max_drift_x1000}")
    return fresh_x1000 - trained_x1000 >= max_drift_x1000


def nb_retrain_is_due(oov_x1000: int, fresh_prior_x1000: int,
                      model_prior_x1000: int,
                      max_oov_x1000: int = 100,
                      max_prior_drift_x1000: int = 250) -> bool:
    """The NB-classifier retrain decision predicate (pure, integer):
    due when fresh labeled data shows either
    - TOKEN NOVELTY: >= ``max_oov_x1000`` per mille of fresh token
      occurrences are absent from the model's count table (the model
      has no evidence for what it is now asked to score — every OOV
      token scores 0 LLR, pulling toward the prior), or
    - CLASS-PRIOR DRIFT: the fresh positive-class rate differs from
      the model's trained prior by >= ``max_prior_drift_x1000`` per
      mille (the prior term in x115's score is stale).
    Both thresholds >= 1 for the same no-retrain-forever hysteresis
    as :func:`compact_is_due`."""
    if max_oov_x1000 < 1 or max_prior_drift_x1000 < 1:
        raise ValueError(
            f"thresholds must be >= 1, got max_oov_x1000="
            f"{max_oov_x1000} max_prior_drift_x1000="
            f"{max_prior_drift_x1000}")
    return (oov_x1000 >= max_oov_x1000
            or abs(fresh_prior_x1000 - model_prior_x1000)
            >= max_prior_drift_x1000)


def vocab_maintenance_sweep(spark, pub, fresh_df,
                            n_merges: int = 4,
                            max_drift_x1000: int = 150,
                            text_col: str = "text",
                            keep_versions: int = 2) -> dict:
    """One retrain decision for the BPE vocabulary published under
    ``pub`` — the x134 sweep shape applied to a TRAINED ARTIFACT:
    measure fresh-slice fertility under the LIVE merges (one
    bounded aggregate — the x89 measurement collapsed to an
    integer), compare against the stamped at-training baseline,
    retrain-and-publish iff :func:`vocab_retrain_is_due`.

    The retrain trains on ``fresh_df`` and stamps the NEW vocab with
    its own fresh-corpus fertility, so an immediately-following
    sweep over the same slice measures zero drift — the
    just-compacted hysteresis of :func:`compact_is_due`, for models.

    Scale (100 TB): a not-due sweep costs one delta-sized encode
    aggregate (the corpus collapses to its distinct words first);
    an acted sweep is x44's already-priced training pass amortized
    over the drift cadence; the swap is O(JSON)."""
    from . import artifacts
    from .text import bpe_train_merges, encode_fertility_x1000

    live, before = _live(pub, "vocab")
    meta = artifacts.bpe_vocab_meta(pub.data_path(live))
    if "fertility_x1000" not in meta:
        raise ValueError(
            f"the live vocab under {pub.root!r} carries no "
            f"fertility_x1000 stamp — retrain drift has no baseline. "
            f"Republish it via bpe_vocab_write(..., fertility_x1000="
            f"encode_fertility_x1000(training_df, merges))")
    trained = int(meta["fertility_x1000"])
    merges = tuple((l, r, m) for l, r, m in meta["merges"])
    fresh = encode_fertility_x1000(fresh_df, merges,
                                   text_col=text_col)
    due = vocab_retrain_is_due(fresh, trained, max_drift_x1000)
    if due:
        m2 = bpe_train_merges(fresh_df, n_merges, text_col=text_col)
        rules = tuple((l, r, m) for _, l, r, m, _ in m2)
        new_fert = encode_fertility_x1000(fresh_df, rules,
                                          text_col=text_col)
        _rewrite_and_publish(
            pub, lambda out: artifacts.bpe_vocab_write(
                m2, out, fertility_x1000=new_fert), keep_versions)
    return _report(pub, "vocab", due, before,
                   fertility_trained_x1000=trained,
                   fertility_fresh_x1000=fresh)


def nb_maintenance_sweep(spark, pub, fresh_doc,
                         pos_col: str = "is_pos",
                         text_col: str = "text",
                         max_oov_x1000: int = 100,
                         max_prior_drift_x1000: int = 250,
                         keep_versions: int = 2) -> dict:
    """One retrain decision for the NB quality model published under
    ``pub``: census the fresh labeled slice's OOV token mass
    and class prior against the LIVE model (two bounded aggregates),
    and iff :func:`nb_retrain_is_due`, fold the fresh counts into
    the published counts (x128's exact integer merge — reads ONLY
    the fresh slice plus the published relation, never the training
    corpus), sum the priors, publish, prune.

    Hysteresis: after an acted sweep every fresh token is in the
    count table (OOV mass 0) and the fresh slice's counts are part
    of the model, so re-sweeping the same slice is not due unless
    its prior is drifted beyond the folded model's — the control
    loop keeps folding until converged, which is the correct
    steady-state for a persistently skewed feed.

    ``fresh_doc``: (doc_id, ``text_col``, boolean ``pos_col``).

    Scale (100 TB): the census and the fold are delta-sized; the
    count-table join is vocabulary-keyed (broadcast at scoring, hash
    at fold); the swap is O(JSON)."""
    from pyspark.sql import functions as F

    from . import artifacts
    from .text import tokenize

    live, before = _live(pub, "nb")
    cnt, np_, nn = artifacts.nb_model_read(spark, pub.data_path(live))

    toks = fresh_doc.select(
        F.col(pos_col).alias("is_pos"),
        F.explode(tokenize(F.col(text_col))).alias("tok"))
    row = (toks.join(cnt.select("tok").distinct()
                     .withColumn("known", F.lit(True)),
                     "tok", "left")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.col("known").isNull().cast("long"))
                .alias("oov")).first())
    if not row["n"]:
        raise ValueError("NB drift census needs a non-empty fresh "
                         "slice — an empty delta has no drift signal")
    oov_x1000 = int(1000 * row["oov"] // row["n"])
    pr = (fresh_doc.agg(
        F.sum(F.col(pos_col).cast("long")).alias("np"),
        F.sum((~F.col(pos_col)).cast("long")).alias("nn"),
        F.sum(F.col(pos_col).isNull().cast("long")).alias("nx"),
        F.count(F.lit(1)).alias("nt")).first())
    # Labels are REQUIRED to be total (ADVICE r12): F.sum over an
    # all-NULL boolean census returns NULL — the old code crashed
    # with an opaque int(None) TypeError before computing any drift
    # signal — and partially-NULL labels silently shrink the prior
    # denominator relative to the OOV census's row count, biasing
    # the drift comparison.  Fail loudly with the defect named.
    if int(pr["nx"] or 0):
        raise ValueError(
            f"NB drift census needs a TOTAL {pos_col!r} label: "
            f"{int(pr['nx'])} of {int(pr['nt'])} fresh rows are "
            f"NULL — label the slice (or filter it) before the "
            f"sweep; a partial label biases the prior drift signal")
    np_f, nn_f = int(pr["np"]), int(pr["nn"])
    fresh_prior_x1000 = 1000 * np_f // (np_f + nn_f)
    model_prior_x1000 = 1000 * np_ // (np_ + nn)

    due = nb_retrain_is_due(oov_x1000, fresh_prior_x1000,
                            model_prior_x1000, max_oov_x1000,
                            max_prior_drift_x1000)
    if due:
        cnt_d = (toks.groupBy("tok")
                 .agg(F.sum(F.col("is_pos").cast("long")).alias("pc"),
                      F.sum((~F.col("is_pos")).cast("long"))
                      .alias("nc")))
        merged = (cnt.withColumnRenamed("pc", "pc_b")
                  .withColumnRenamed("nc", "nc_b")
                  .join(cnt_d.withColumnRenamed("pc", "pc_d")
                        .withColumnRenamed("nc", "nc_d"),
                        "tok", "full_outer")
                  .select("tok",
                          (F.coalesce("pc_b", F.lit(0))
                           + F.coalesce("pc_d", F.lit(0))).alias("pc"),
                          (F.coalesce("nc_b", F.lit(0))
                           + F.coalesce("nc_d", F.lit(0)))
                          .alias("nc")))
        _rewrite_and_publish(
            pub, lambda out: artifacts.nb_model_write(
                merged, np_ + np_f, nn + nn_f, out), keep_versions)
    return _report(pub, "nb", due, before, oov_x1000=oov_x1000,
                   fresh_prior_x1000=fresh_prior_x1000,
                   model_prior_x1000=model_prior_x1000)


def maintenance_daemon(sweeps, poll_seconds: float = 5.0):
    """The continuously-running form (the ``watch_daemon`` analog):
    run every thunk in ``sweeps`` (zero-arg callables, e.g.
    ``lambda: compaction_sweep(spark, pub, "ivf")``) once per
    ``poll_seconds`` tick on a background thread.  The daemon keeps
    no per-tick state: a thunk that wants its report row handles it
    itself (the CLI prints it, tests collect it).  Returns a handle
    whose ``stop()`` finishes the in-flight tick and joins (graceful
    SIGINT wiring is the caller's, exactly as ``__main__.cmd_watch``
    does for the file watcher).  Sweep exceptions stop the daemon
    and re-raise on ``stop()`` — a maintenance loop that silently
    skips failed sweeps would let an index decay unboundedly while
    looking healthy."""
    import threading

    class _Daemon:
        def __init__(self):
            self._stop = threading.Event()
            self._error: BaseException | None = None
            self._thread = threading.Thread(target=self._run,
                                            daemon=True)
            self._thread.start()

        def _run(self):
            while not self._stop.is_set():
                for sweep in sweeps:
                    try:
                        sweep()
                    except BaseException as exc:  # surface on stop()
                        self._error = exc
                        return
                self._stop.wait(poll_seconds)

        def stop(self):
            self._stop.set()
            self._thread.join()
            if self._error is not None:
                raise self._error

    return _Daemon()
