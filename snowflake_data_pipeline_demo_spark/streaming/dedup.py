"""Streaming deduplication — the continuous-ingest twin of
operators/dedup.py's batch exact dedup.

``dropDuplicates`` on a stream keeps every key seen forever (state
grows with history — unusable for continuous 100 TB ingest);
``dropDuplicatesWithinWatermark`` bounds state to keys newer than the
watermark horizon, which is the right contract for ingest dedup: a
duplicate document lands within minutes/hours of its first copy
(retries, at-least-once upstreams), not months later. Full-history
dedup stays a batch job (the incremental anti-join in
operators/dedup.py / x_dedup_incremental).

State is hash-partitioned by key across the state store instances, so
it scales horizontally with the cluster like any keyed state.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame


def dedup_stream(events: DataFrame, key_cols: Sequence[str],
                 ts_col: str = "ts",
                 watermark: str = "2 hours") -> DataFrame:
    """Drop rows whose ``key_cols`` already appeared within the
    watermark horizon. First occurrence wins; exactly-once per key per
    horizon under crash-replay (state is checkpointed with the query)."""
    return events.withWatermark(ts_col, watermark) \
        .dropDuplicatesWithinWatermark(list(key_cols))


def semantic_dedup_batch_fn(
    clean_table, centroids: DataFrame, threshold: float = 0.85,
    id_col: str = "vec_id", vec_col: str = "embedding",
    assigned_table=None,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` factory: continuous SEMANTIC ingest dedup —
    the streaming composition of operators/dedup.
    incremental_embedding_neardup. Each micro-batch probes the
    persisted history and writes only non-duplicate vectors.

    With ``assigned_table=None`` the clean-vector table doubles as the
    history index and its assignment is recomputed per ingest — an
    O(history) projection per batch. Passing an ``assigned_table``
    ((id, vec, centroid_id) schema) switches to the persisted
    ASSIGNED index: the fn appends each batch's novel assignments and
    probes against the index directly, so a batch pays O(batch)
    assignment plus cluster-key equi-joins — the same cost-shape fix
    as the MinHash path's band index (``bands_table``).

    Exactly-once under crash-replay by the same contract as the pipe's
    DML (streaming/pipeline.py): writes are batch-keyed
    (``overwrite_subdir(batch=<id>)``), the gate checks the table
    written LAST (clean_table), and the flag decision is checkpointed
    before ANY overwrite — in both modes the decision plan scans the
    very table being written (the index, or clean_table itself as the
    history), so without the checkpoint a replay would delete its own
    scan inputs mid-plan. The replay also excludes the batch's own ids
    from history (anti-join) so a half-persisted subdir cannot flag
    the batch against itself.

    Enabling ``assigned_table`` over an ALREADY-POPULATED clean_table
    requires a one-time :func:`backfill_assigned_index`; the fn raises
    if the index is empty while history is not (an empty index would
    silently admit every duplicate of pre-index history).

    The batch-keyed gate assumes batch ids come from ONE streaming
    checkpoint per table lifetime. Starting a NEW query (fresh
    checkpoint, ids restart at 0) over tables an older query already
    wrote makes the new ids look like replays: the gate SKIPS those
    batches silently — data loss, not idempotence (r09 review pass 3).
    Migrations that replace the query must keep the checkpoint, or
    point the new query at fresh table roots seeded from the old ones.

    Sizing contract for flat per-day cost (measured, SCALE.md
    round-8): the probe's candidate set is batch-rows x per-cluster
    index occupancy, so with a FIXED centroid set the per-batch cost
    drifts up linearly as history grows (+27% over 2.8x history at
    nlist=64 in the day-N run — still 6.6x cheaper than same-day
    from-scratch). Size nlist with the corpus (k ~ n / target cluster
    size, the SemDeDup paper's own rule) and re-train +
    :func:`backfill_assigned_index` when history grows an order of
    magnitude: at constant cluster occupancy the probe term is
    O(batch) and the day-N curve is flat like the MinHash band
    index's.
    """
    from ..operators.dedup import incremental_embedding_neardup
    from ..operators.similarity import ivf_assign

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        sub = f"batch={batch_id}"
        if clean_table.subdir_committed(sub):
            return
        new_ids = batch_df.select(id_col)
        if assigned_table is not None:
            # guard is unambiguous because the index is written BEFORE
            # clean_table below (same ordering argument as the minhash
            # fn's band index): every crash point leaves index coverage
            # >= clean coverage, so clean-populated + index-empty can
            # only mean indexed mode was enabled over plain-mode
            # history. The backfill _SUCCESS marker is accepted as
            # coverage alongside file presence (r09 ADVICE): a backfill
            # over all-NULL-vector history legitimately assigns ZERO
            # rows (ivf_assign drops NULL vectors — those rows have no
            # geometry to dedup against), and only the pinned Spark's
            # habit of writing empty part files made _has_data() pass;
            # a committer that skips empty files would otherwise wedge
            # the stream on every replay.
            if (clean_table._has_data()
                    and not assigned_table._has_data()
                    and not assigned_table.subdir_committed(
                        "batch=backfill")):
                raise ValueError(
                    "assigned_table is empty but clean_table has history: "
                    "the index would miss every pre-index duplicate. Run "
                    "backfill_assigned_index(clean_table, assigned_table, "
                    "centroids) once before enabling indexed mode."
                )
            hist_assigned = assigned_table.read().join(
                new_ids, id_col, "left_anti"
            )
            # assign the batch ONCE; checkpoint so the probe, the dup
            # decision, and the novel-index write all reuse it
            probe = ivf_assign(
                batch_df, centroids, id_col, vec_col, with_score=False
            ).localCheckpoint()
            flagged = incremental_embedding_neardup(
                batch_df, None, centroids, threshold, id_col, vec_col,
                history_assigned=hist_assigned, new_assigned=probe,
            )
            dup_ids = flagged.select(id_col).localCheckpoint()
            # rebalance the payload writes (r13, guide §6): both joins
            # inherit the batch frame's full compute partitioning, so
            # each micro-batch wrote one near-empty file per compute
            # partition; the REBALANCE hint lets AQE size the write to
            # the advisory partition size — one file for a small
            # batch, parallel for a large one (see the minhash fn).
            clean = batch_df.join(dup_ids, id_col, "left_anti") \
                .hint("rebalance")
            novel_assigned = probe.join(dup_ids, id_col, "left_anti") \
                .hint("rebalance")
            assigned_table.overwrite_subdir(novel_assigned, sub)
            clean_table.overwrite_subdir(clean, sub)
            return
        history = clean_table.read().join(new_ids, id_col, "left_anti")
        # assign the batch ONCE and checkpoint, exactly like indexed
        # mode above: the probe feeds three pair-leg consumers inside
        # the operator, and a per-batch lane_cache there would outlive
        # the micro-batch (nothing drains _TRACKED between batches —
        # r12 optimization; the operator only self-caches for plain
        # batch callers, where the @query drain owns the lifetime).
        probe = ivf_assign(
            batch_df, centroids, id_col, vec_col, with_score=False
        ).localCheckpoint()
        flagged = incremental_embedding_neardup(
            batch_df, history, centroids, threshold, id_col, vec_col,
            new_assigned=probe,
        )
        # the decision plan scans clean_table (it IS the history), and
        # the write below overwrites a subdir that scan lists on replay
        # — checkpoint the id list before writing, like the minhash fn
        dup_ids = flagged.select(id_col).localCheckpoint()
        clean = batch_df.join(dup_ids, id_col, "left_anti") \
            .hint("rebalance")  # r13 payload-write sizing, see above
        clean_table.overwrite_subdir(clean, sub)

    return fn


def backfill_assigned_index(clean_table, assigned_table, centroids: DataFrame,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding") -> None:
    """One-time migration: populate an empty ``assigned_table`` from an
    existing clean-vector history so :func:`semantic_dedup_batch_fn`
    can switch to indexed mode without losing dup detection against
    pre-index content. ``centroids`` MUST be the same frame the batch
    fn is built with — different centroids assign history to different
    clusters than the probes expect, silently missing candidates (the
    fn's guard only checks the index is non-empty). Idempotent
    (batch-keyed overwrite) — rerun until it completes if it
    crashes."""
    from ..operators.similarity import ivf_assign

    assigned_table.overwrite_subdir(
        ivf_assign(clean_table.read(), centroids, id_col, vec_col),
        "batch=backfill",
    )


def sized_nlist(n: int, target_occupancy: int = 256,
                min_nlist: int = 8, max_nlist: int = 4096) -> int:
    """The nlist-sizing contract as code (was prose in
    :func:`semantic_dedup_batch_fn`'s docstring through r08): the IVF
    probe's per-batch cost is batch-rows x per-cluster index occupancy,
    so nlist must scale with the corpus — k ~ n / target cluster size,
    the SemDeDup paper's own rule (Abbas et al. 2023). Clamped below
    by ``min_nlist`` (tiny corpora) and above by ``max_nlist``.

    The ceiling's binding constraint is RETRAIN COST, not centroid
    memory (r09 review — the first cut said 65k lists ~ 0.5 GB, which
    is true and irrelevant): kmeans_centroids runs driver-side numpy
    at ~(iters + 1) x sample x nlist x dim flops, and with the default
    sample rule (32 x nlist) that is ~6 x 32 x nlist^2 x dim — nlist
    4096 at dim 64 is a minutes-scale retrain, nlist 65536 is HOURS of
    single-process work presented as routine amortized maintenance.
    At the 4096 default and target_occupancy 256 the contract covers
    ~1M-vector histories; past that, either raise ``target_occupancy``
    (probe cost grows with it, linearly) or give centroid training a
    minibatch/distributed path before raising ``max_nlist``."""
    import math

    if n <= 0:
        return min_nlist
    return max(min_nlist, min(max_nlist, math.ceil(n / target_occupancy)))


class SemanticIndexAutoscaler:
    """Self-sizing wrapper around :func:`semantic_dedup_batch_fn`'s
    indexed mode: owns the centroid set as PERSISTED, epoch-versioned
    state and retrains + re-backfills whenever history outgrows the
    occupancy contract, so per-batch ingest cost stays O(batch)
    indefinitely instead of drifting with history (the honest +27%/2.8x
    slope the r08 fixed-nlist day-N run measured — SCALE.md round-8).

    Layout under ``root``::

        {root}/centroids/epoch=K/   nlist_K (centroid_id, vec) rows
        {root}/assigned/epoch=K/    the (id, vec, centroid_id) index,
                                    rebuilt whole at epoch birth
                                    (batch=backfill) then accreted
                                    per-batch (batch=N) by the inner fn
        {root}/meta/epoch=K/        one row (n, desired, shipped) —
                                    what the epoch was trained against

    Crash-replay contract (same discipline as the inner fn's): an
    epoch EXISTS only once its centroids subdir has job-committed, and
    the centroid write is LAST — after the epoch's assigned-index
    backfill and its meta row — so every committed epoch's index and
    meta are complete. A crash mid-retrain leaves orphan assigned/meta
    dirs that the deterministic retrain (kmeans_centroids: sorted-id
    sample, farthest-point init) simply overwrites on replay; readers
    stay on the previous epoch until the commit point. Retrain
    DECISIONS are pure functions of committed state (history row
    count, the current epoch's meta), so a replayed batch reaches the
    same epoch it first ran under.

    Occupancy bound: with ``retrain_factor`` f and target occupancy t,
    a retrain fires when sized_nlist(n) >= f x the nlist the current
    epoch was SIZED FOR (meta ``desired`` — not the count kmeans
    shipped), i.e. mean occupancy stays in [t, f*t) — the probe's
    candidate term is batch x O(t), constant. Retrain itself costs one
    sample-scale driver k-means plus one O(history) re-assignment
    pass, amortized over the f-fold growth that triggered it
    (geometric schedule: the total re-assignment work over the corpus
    lifetime is f/(f-1) x final-history — same amortization argument
    as array doubling). Comparing against ``desired`` rather than the
    shipped count is what makes the schedule TERMINATE on degenerate
    corpora: a VECTOR-STARVED history (NULL/empty/ragged-dominated —
    duplicates do NOT cap kmeans; it ships min(nlist, usable sample
    rows), r09 review pass 3) can cap kmeans below the sizing, and a
    shipped-count trigger would then re-fire a full O(history) retrain
    on EVERY batch forever (r09 review); the desired-count trigger
    still fires once per f-fold growth and simply re-ships the cap.
    A corpus with NO geometry at all (every vector NULL/empty ->
    kmeans ships zero centroids) DEFERS the bootstrap when a batch
    drives it — the batch passes through the exactly-once gate
    (geometry-free rows have nothing to dedup against) and a later
    batch with usable vectors bootstraps via the history-union rescue
    — and fails loudly for direct :meth:`maybe_retrain` callers
    (including any retrain reaching zero centroids, which committed
    history makes impossible short of state corruption).

    Bootstrap decisions are functions of committed state PLUS the
    triggering batch (deterministic under replay — same batch by
    offset); the meta row's ``n`` therefore records the TRAINING
    corpus size (history plus the not-yet-committed batch at
    bootstrap), not the committed row count. Steady-state retrain
    decisions read committed state only.

    The history row count is taken per batch via a parquet count()
    (footer metadata scan, no column IO); a production deployment at
    1000-executor scale would keep the running count in the ingest
    ledger instead, but the decision rule is identical.
    """

    def __init__(self, clean_table, root: str, threshold: float = 0.85,
                 target_occupancy: int = 256, retrain_factor: float = 2.0,
                 min_nlist: int = 8, max_nlist: int = 4096,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 kmeans_iters: int = 5,
                 sample_per_list: int = 32, max_sample: int = 1 << 18):
        from pyspark.sql import types as T

        from ..sources.catalog import Table

        if retrain_factor <= 1.0:
            raise ValueError("retrain_factor must exceed 1.0 — at <=1 "
                             "every batch would retrain")
        self.clean_table = clean_table
        self.spark = clean_table.spark
        self.root = root.rstrip("/")
        self.threshold = threshold
        self.target_occupancy = target_occupancy
        self.retrain_factor = retrain_factor
        self.min_nlist, self.max_nlist = min_nlist, max_nlist
        self.id_col, self.vec_col = id_col, vec_col
        self.kmeans_iters = kmeans_iters
        self.sample_per_list, self.max_sample = sample_per_list, max_sample
        self.last_action: dict | None = None
        self._cent_schema = T.StructType([
            T.StructField("centroid_id", T.LongType()),
            T.StructField(vec_col, T.ArrayType(T.DoubleType())),
        ])
        self._assigned_schema = T.StructType([
            T.StructField(id_col, T.LongType()),
            T.StructField(vec_col, T.ArrayType(T.DoubleType())),
            # ivf_assign emits centroid ids as long, whatever the
            # type of the centroid frame's id column
            T.StructField("centroid_id", T.LongType()),
        ])
        self._meta_schema = T.StructType([
            T.StructField("n", T.LongType()),
            T.StructField("desired", T.LongType()),
            T.StructField("shipped", T.LongType()),
        ])
        self._cent = Table(self.spark, f"{self.root}/centroids",
                           self._cent_schema)
        self._meta = Table(self.spark, f"{self.root}/meta",
                           self._meta_schema)
        self._meta_memo: dict[int, tuple[int, int]] = {}
        self._Table = Table

    # -- epoch state -------------------------------------------------
    def latest_epoch(self) -> int | None:
        """Highest committed centroid epoch (None = unbootstrapped).
        Epochs commit in order with no gaps, so a linear probe is
        exact; the count is log_f(total growth) — single digits over
        any realistic corpus lifetime."""
        k = None
        i = 0
        while self._cent.subdir_committed(f"epoch={i}"):
            k, i = i, i + 1
        return k

    def centroids(self, epoch: int):
        return self.spark.read.schema(self._cent_schema).parquet(
            f"{self.root}/centroids/epoch={epoch}"
        )

    def assigned_table(self, epoch: int):
        return self._Table(self.spark, f"{self.root}/assigned/epoch={epoch}",
                           self._assigned_schema)

    def _sample(self, nlist: int) -> int:
        return min(max(4096, self.sample_per_list * nlist), self.max_sample)

    def _train(self, corpus, nlist: int):
        from pyspark.sql import functions as F

        from ..operators.similarity import kmeans_centroids

        cents = kmeans_centroids(
            corpus, nlist=nlist, iters=self.kmeans_iters,
            sample=self._sample(nlist),
            id_col=self.id_col, vec_col=self.vec_col,
        )
        return cents.select(
            F.col("centroid_id").cast("long"),
            F.col(self.vec_col).cast("array<double>"),
        )

    def _epoch_meta(self, epoch: int) -> tuple[int, int]:
        """(desired, shipped) for a committed epoch — the retrain
        trigger's baseline and the action record's nlist, from ONE
        read, memoized per epoch (a committed epoch's meta is
        immutable; a crash-replay overwrite is deterministic-identical
        — the per-batch hot path must not pay two Spark jobs for two
        constants, r09 review pass 2). Falls back to the shipped
        centroid count for both values if the meta row is missing
        (a pre-meta layout; epochs written by this code always have
        one — meta lands before the centroid commit)."""
        hit = self._meta_memo.get(epoch)
        if hit is not None:
            return hit
        sub = f"epoch={epoch}"
        row = None
        if self._meta.subdir_committed(sub):
            row = self.spark.read.schema(self._meta_schema).parquet(
                f"{self.root}/meta/{sub}"
            ).first()
        if row is not None:
            out = (int(row["desired"]), int(row["shipped"]))
        else:
            shipped = self.centroids(epoch).count()
            out = (shipped, shipped)
        self._meta_memo[epoch] = out
        return out

    def _train_epoch(self, corpus, epoch: int, n: int, desired: int,
                     backfill_from, allow_defer: bool = False):
        """Train + persist one epoch; returns the shipped centroid
        count, or None when ``allow_defer`` and the corpus carries no
        usable vectors (geometry-free — nothing committed). Write
        order: assigned-index backfill, then the meta row, then the
        centroid commit LAST — a committed epoch always has a complete
        index and meta (same argument as the inner fn's
        index-before-clean ordering)."""
        cents = self._train(corpus, desired)
        shipped = cents.count()
        if shipped == 0:
            # every vector NULL/empty -> kmeans has no geometry; an
            # epoch with zero centroids would assign nothing and
            # silently admit every duplicate (r09 review). At
            # bootstrap this DEFERS (pass 3): geometry-free rows have
            # nothing to dedup against, so the batch passes through
            # and the next batch with usable vectors bootstraps via
            # the history-union rescue — raising instead would replay
            # the same poisoned first batch forever. On a RETRAIN this
            # is an invariant breach (the committed epoch proves the
            # corpus had usable vectors, and history only grows), so
            # fail loudly.
            if allow_defer:
                return None
            raise ValueError(
                "semantic index training shipped 0 centroids: the "
                "corpus has no non-empty vectors to train on — "
                "refusing to commit an epoch that would admit every "
                "duplicate"
            )
        sub = f"epoch={epoch}"
        if backfill_from is not None:
            backfill_assigned_index(
                backfill_from, self.assigned_table(epoch), cents,
                self.id_col, self.vec_col,
            )
        self._meta.overwrite_subdir(
            self.spark.createDataFrame([(n, desired, shipped)],
                                       self._meta_schema),
            sub,
        )
        self._cent.overwrite_subdir(cents, sub)
        self._meta_memo[epoch] = (desired, shipped)
        return shipped

    # -- the contract ------------------------------------------------
    def maybe_retrain(self, bootstrap_df=None) -> dict:
        """Apply the sizing contract against committed state; returns
        an action record ``{"action": bootstrap|retrain|none|deferred,
        "epoch", "nlist", "n"}`` (bootstrap/retrain also carry
        ``desired``). A ``deferred`` record means a batch-driven
        bootstrap found NO usable vectors (geometry-free corpus):
        nothing was committed and ``epoch`` is None — callers indexing
        ``info["epoch"]`` into :meth:`inner_fn` must branch on the
        action first, as :meth:`batch_fn` does (r09 ADVICE).
        Idempotent: re-running after a crash at any point converges
        (deterministic k-means, whole-subdir overwrites, centroid
        commit last)."""
        epoch = self.latest_epoch()
        if epoch is None:
            # Bootstrap — also the MIGRATION path from plain
            # (non-indexed) mode: if clean_table already has history,
            # train on it and backfill its assignment, so pre-index
            # duplicates stay detectable (the inner fn's coverage
            # guard would otherwise refuse the populated-clean /
            # empty-index combination). Migrate by swapping the
            # foreachBatch fn INSIDE the existing query/checkpoint —
            # batch ids must keep counting, or the exactly-once gate
            # mistakes the new query's restarted ids for replays
            # (see semantic_dedup_batch_fn docstring, r09 pass 3).
            has_hist = self.clean_table._has_data()
            if has_hist and bootstrap_df is not None:
                # train on history AND the triggering batch: if the
                # plain-mode history carries no usable vectors (all
                # NULL/empty), training on it alone would raise on
                # THIS batch and every replay of it — wedging the
                # stream on content that can never change (r09 review
                # pass 2). The batch's vectors rescue the bootstrap;
                # deterministic on replay (same committed history +
                # same batch by offset).
                corpus = self.clean_table.read().select(
                    self.id_col, self.vec_col
                ).unionByName(
                    bootstrap_df.select(self.id_col, self.vec_col)
                )
            elif has_hist:
                corpus = self.clean_table.read()
            else:
                corpus = bootstrap_df
            if corpus is None:
                raise ValueError("unbootstrapped index and no "
                                 "bootstrap_df to train on")
            n = corpus.count()
            desired = sized_nlist(n, self.target_occupancy,
                                  self.min_nlist, self.max_nlist)
            # kmeans may ship < the sized nlist (vector-starved or
            # tiny corpora); the action records what shipped, the
            # meta row records both
            shipped = self._train_epoch(
                corpus, 0, n, desired,
                self.clean_table if has_hist else None,
                # defer (not raise) only when a batch drives the call:
                # a streaming replay re-delivers the same poisoned
                # batch forever, while a direct maybe_retrain() caller
                # can act on the exception
                allow_defer=bootstrap_df is not None,
            )
            if shipped is None:
                self.last_action = {"action": "deferred", "epoch": None,
                                    "nlist": 0, "n": n}
                return self.last_action
            self.last_action = {"action": "bootstrap", "epoch": 0,
                                "nlist": shipped, "n": n,
                                "desired": desired}
            return self.last_action
        n = self.clean_table.count()
        desired = sized_nlist(n, self.target_occupancy,
                              self.min_nlist, self.max_nlist)
        # trigger on the current epoch's SIZED nlist, not its shipped
        # count: a vector-starved corpus caps kmeans below desired,
        # and a shipped-count trigger would re-fire a full O(history)
        # retrain every batch forever (r09 review)
        birth_desired, birth_shipped = self._epoch_meta(epoch)
        if desired < self.retrain_factor * birth_desired:
            self.last_action = {"action": "none", "epoch": epoch,
                                "nlist": birth_shipped, "n": n}
            return self.last_action
        nxt = epoch + 1
        shipped = self._train_epoch(
            self.clean_table.read(), nxt, n, desired, self.clean_table
        )
        self.last_action = {"action": "retrain", "epoch": nxt,
                            "nlist": shipped, "n": n,
                            "desired": desired}
        return self.last_action

    def inner_fn(self, epoch: int):
        """The epoch-pinned ingest fn (NO sizing check) — for callers
        that drive :meth:`maybe_retrain` themselves, e.g. to time the
        amortized maintenance separately from the marginal batch cost
        (scripts/dayn_semantic_scale_run.py)."""
        return semantic_dedup_batch_fn(
            self.clean_table, self.centroids(epoch),
            self.threshold, self.id_col, self.vec_col,
            assigned_table=self.assigned_table(epoch),
        )

    def batch_fn(self):
        """``foreachBatch`` entry point: size-check (retraining if the
        contract demands), then delegate the batch to
        :func:`semantic_dedup_batch_fn` in indexed mode against the
        current epoch's index. A ``deferred`` bootstrap (geometry-free
        corpus) passes the batch through with the same batch-keyed
        exactly-once gate — rows without geometry have nothing to
        dedup against, and a later batch with usable vectors
        bootstraps over them via the history-union rescue."""
        def fn(batch_df, batch_id: int) -> None:
            info = self.maybe_retrain(bootstrap_df=batch_df)
            if info["action"] == "deferred":
                sub = f"batch={batch_id}"
                if not self.clean_table.subdir_committed(sub):
                    self.clean_table.overwrite_subdir(batch_df, sub)
                return
            self.inner_fn(info["epoch"])(batch_df, batch_id)

        return fn


def minhash_dedup_batch_fn(
    clean_table, sigs_table, bands_table=None,
    text_col: str = "text", id_col: str = "doc_id",
    num_hashes: int = 16, bands: int = 4, threshold: float = 0.5,
    hash_family: str = "xxhash64",
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` factory: continuous NEAR-dup ingest dedup over
    a PERSISTED MinHash signature index — the streaming composition of
    operators/dedup.incremental_neardup. Each micro-batch signs its
    documents (O(batch) shingling — history text is never re-read),
    probes the persisted signature table for banded-key collisions,
    drops docs whose estimated Jaccard vs any prior doc reaches
    ``threshold``, and appends the NOVEL docs' signatures back to the
    index — so the index grows only with unique content.

    Scale notes: with ``bands_table=None`` the probe re-bands the
    history signature table per batch (a narrow projection over
    (id, 16 longs) rows — cheap but O(history) per batch). Passing a
    ``bands_table`` switches to the persisted LSH INDEX: the fn
    appends each batch's novel banded keys to it and probes via
    ``incremental_neardup_indexed`` — O(batch) banding plus one
    equi-join against the index, the shape a minutes-cadence 100 TB
    ingest needs. At that scale, persist the index BUCKETED on
    (band, key): the probe join then leaves the index side
    exchange-free and shuffles only the O(batch) probe side —
    demonstrated and plan-pinned by tests/test_plan_shapes.py::
    test_bucketed_band_index_probe_shuffles_batch_side_only.

    Exactly-once under crash-replay: both writes are batch-keyed
    subdir overwrites; the GATE checks the table written LAST
    (clean_table), so a crash between the index write and the data
    write replays into identical bytes — the replay excludes the
    batch's own ids from history (anti-join) so a half-persisted index
    subdir cannot flag the batch against itself. The gate assumes
    batch ids come from ONE streaming checkpoint per table lifetime —
    a NEW query (fresh checkpoint, ids restart at 0) over
    previously-written tables would have its first batches silently
    SKIPPED as replays (r09 review pass 3); keep the checkpoint, or
    seed fresh table roots.
    """
    from ..operators.dedup import (
        banded_keys,
        incremental_neardup,
        incremental_neardup_indexed,
        minhash_signatures,
    )

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        sub = f"batch={batch_id}"
        if clean_table.subdir_committed(sub):
            return
        if (bands_table is not None and sigs_table._has_data()
                and not bands_table._has_data()):
            # distinguishable from a crash-replay state ONLY because
            # the band index is written BEFORE the signature table
            # below: any crash point leaves bands >= sigs coverage, so
            # sigs-populated + bands-empty can only mean the index was
            # enabled over pre-existing plain-mode history.
            raise ValueError(
                "bands_table is empty but sigs_table has history: the "
                "index would miss every pre-index duplicate. Run "
                f"backfill_band_index(sigs_table, bands_table, "
                f"bands={bands}) once before enabling indexed mode "
                "(the bands value MUST match this fn's)."
            )
        # sign ONCE: without the checkpoint the signature plan (explode
        # shingles x num_hashes min-agg) re-executes for every consumer
        # (probe, novel-sig write, dup decision) — measured 3x signing
        # per batch. localCheckpoint is batch-scale (id + 16 longs).
        new_sigs = minhash_signatures(
            batch_df, text_col, id_col,
            num_hashes=num_hashes, hash_family=hash_family,
        ).localCheckpoint()
        # exclude the batch's own ids from history straight off the
        # batch frame (a superset of the signed ids — docs too short to
        # shingle never reach the index), so the guard doesn't depend
        # on the signature plan. Applied to BOTH persisted artifacts so
        # a crash-replay cannot flag the batch against its own
        # half-persisted writes.
        new_ids = batch_df.select(id_col)
        history = sigs_table.read().join(new_ids, id_col, "left_anti")
        if bands_table is not None:
            hist_bands = bands_table.read().join(
                new_ids, id_col, "left_anti"
            )
            flagged = incremental_neardup_indexed(
                new_sigs, history, hist_bands, bands=bands,
                id_col=id_col, threshold=threshold,
            )
        else:
            flagged = incremental_neardup(
                new_sigs, history, bands=bands, id_col=id_col,
                threshold=threshold,
            )
        # materialize the DECISION before the index overwrites: dup_ids'
        # plan scans sigs_table (and the band index), and a crash-replay
        # overwrites the very subdirs those scans list — without the
        # checkpoint the write would delete its own input files mid-plan
        # (FAILED_READ_FILE). The checkpoint is an id list (8 bytes per
        # dup); the clean and novel-sig outputs then derive from
        # checkpointed frames only and write directly — no batch-text
        # materialization at all.
        dup_ids = flagged.select(id_col).localCheckpoint()
        # rebalance before the payload write (r13, guide §6): the
        # anti-join inherits the batch frame's full compute
        # partitioning (the loader's core-count repartition locally; a
        # cluster's scan split count at scale), so every micro-batch
        # wrote one near-empty file PER COMPUTE PARTITION into the
        # clean table — 32 ~50 KB files per batch at sf0.1 while the
        # checkpointed sigs/bands frames (AQE-coalesced) wrote one.
        # The REBALANCE hint lets AQE size the write to
        # advisoryPartitionSizeInBytes, so a small batch lands as one
        # file and a large one still writes in parallel —
        # scale-adaptive, not a constant. sigs/bands stay as they are
        # (already advisory-sized via the checkpoint).
        clean = batch_df.join(dup_ids, id_col, "left_anti").hint("rebalance")
        novel_sigs = new_sigs.join(dup_ids, id_col, "left_anti")
        # write ORDER matters twice over: the gate checks the table
        # written LAST (clean), and the migration guard above relies on
        # bands being written FIRST — a crash at any point then leaves
        # band coverage >= sig coverage, so a replayed first indexed
        # batch can never be mistaken for an unbackfilled migration
        # (sigs-before-bands order would wedge that replay on the
        # guard forever).
        if bands_table is not None:
            bands_table.overwrite_subdir(
                banded_keys(novel_sigs, bands, id_col), sub
            )
        sigs_table.overwrite_subdir(novel_sigs, sub)
        clean_table.overwrite_subdir(clean, sub)

    return fn


def backfill_band_index(sigs_table, bands_table, bands: int = 4,
                        id_col: str = "doc_id") -> None:
    """One-time migration: populate an empty ``bands_table`` from an
    existing signature history so :func:`minhash_dedup_batch_fn` can
    switch to indexed mode without losing dup detection against
    pre-index content. ``bands`` MUST equal the value the batch fn is
    built with — a mismatch produces band keys that never collide with
    the probes' keys, silently zeroing detection against backfilled
    history (the guard in the fn cannot see this; it only checks the
    index is non-empty). Idempotent (batch-keyed overwrite) — rerun
    until it completes if it crashes."""
    from ..operators.dedup import banded_keys

    bands_table.overwrite_subdir(
        banded_keys(sigs_table.read(), bands, id_col), "batch=backfill"
    )
