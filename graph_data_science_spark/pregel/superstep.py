"""Superstep loop with durable checkpoint / resume / per-data-file metrics.

GDS's ``Pregel.run()`` loop (reference ``pregel/.../Pregel.java:204-242``)
has convergence detection and cancellation but **no** checkpoint/restart —
a killed job restarts from scratch. This engine adds durability, the core
novel requirement of the north rule:

- After every superstep the vertex-state DataFrame is written to the
  checkpoint store (parquet here; on a cluster the same layout maps 1:1 to
  an Iceberg table partitioned by ``superstep`` — each commit below is one
  snapshot append; no Iceberg runtime jar ships in this sandbox).
- A ``metrics`` table receives one row **per committed data file** of the
  state (superstep, partition = data-file index, rows from the file's
  parquet footer, wall_ms, lineage fingerprint of the input edge table,
  plus algorithm counters) — the Iceberg data-file analog and the durable
  analog of GDS's hierarchical progress tasks
  (``progress-tracking/.../tasks/Task.java``), queryable while the job runs.
  The driver writes each commit's rows as one parquet file
  (``metrics/part-<superstep>-<uuid>.parquet``, renamed into place from a
  hidden temp name), so a durable commit runs exactly one Spark job of its
  own: the state write.
- A ``_COMMITTED`` marker makes the superstep atomic: resume scans for the
  highest committed superstep and reloads that state; everything after is
  recomputed. Writing state each superstep also truncates plan lineage, so
  per-superstep plans stay flat (no O(iterations) plan growth).

In-memory mode (``checkpoint_dir=None``) uses ``localCheckpoint`` — same
lineage truncation, no durability — for tests and tight benchmark loops.

The loop owns the whole checkpoint contract: it fingerprints its own input
(callers pass the edge frame and their parameters, never a lineage string),
and the ``state_NNNNN/_COMMITTED`` layout stays private to this module —
algorithms read committed state only through :meth:`SuperstepLoop.resume`
and :meth:`SuperstepLoop.committed_states`.
"""

from __future__ import annotations

import json
import logging
import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

logger = logging.getLogger(__name__)

METRICS_SCHEMA = (
    "algo string, superstep int, partition int, rows long, wall_ms double, "
    "lineage string, counters string"
)

# The same columns as Arrow types, for the driver-side metrics write; the
# Spark reader maps them back to METRICS_SCHEMA's types.
_ARROW_TYPES = {"string": pa.string(), "int": pa.int32(), "long": pa.int64(), "double": pa.float64()}
_METRICS_ARROW_SCHEMA = pa.schema(
    [
        (name, _ARROW_TYPES[typ])
        for name, typ in (col.split() for col in METRICS_SCHEMA.split(","))
    ]
)

# Vertex-state frames above this row count are localCheckpoint-ed
# SERIALIZED (StorageLevel.MEMORY_AND_DISK, deserialized=False) instead of
# the default deserialized level: at 80M+ state rows the deserialized
# on-heap copies (~50-80 B/row object overhead vs 16 B of data) of the
# retained fold frames alone exceed a heap sized for the *data* — the
# 100M-edge constant-work run OOMs at the heap-per-core protocol's 36 g
# without this (bench_experiments/, r3_100M notes). Serialized blocks are
# several-fold smaller and spill to disk block-by-block instead of dying.
_STATE_SER_MIN_ROWS = 50_000_000


def state_storage_level(node_count: int | None):
    """StorageLevel for committed in-memory superstep state, or ``None`` for
    Spark's default (deserialized). Serialized at ``_STATE_SER_MIN_ROWS``
    predicted state rows and above."""
    from pyspark.storagelevel import StorageLevel

    if node_count is not None and node_count >= _STATE_SER_MIN_ROWS:
        return StorageLevel.MEMORY_AND_DISK
    return None


def free_checkpointed(df: DataFrame) -> None:
    """Actually release a ``localCheckpoint``-ed DataFrame's storage.

    ``DataFrame.unpersist()`` is a no-op for these frames — the checkpointed
    RDD is persisted at the RDD level and never registered in the
    CacheManager, so the DataFrame-level call frees nothing and an in-memory
    superstep loop accumulates executor storage unboundedly. The LogicalRDD
    plan node exposes the underlying RDD; unpersist that directly.

    The fast path relies on the analyzed plan being a LogicalRDD — private
    internals that can change shape across Spark versions. The fallback is
    the (ineffective) DataFrame-level unpersist; it logs so a storage-leak
    regression is observable rather than silent.
    """
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception as exc:
        logger.debug(
            "free_checkpointed: RDD-level unpersist unavailable (%s); "
            "falling back to DataFrame.unpersist(), which is a no-op for "
            "localCheckpoint-ed frames — executor storage may accumulate",
            exc,
        )
        try:
            df.unpersist()
        except Exception:
            pass


class SuperstepLoop:
    """Checkpointed driver loop shared by all iterative algorithms."""

    def __init__(
        self,
        spark: SparkSession,
        name: str,
        checkpoint_dir: str | None = None,
        *,
        edges: DataFrame,
        params: dict | None = None,
        auto_free_prev: bool = True,
    ) -> None:
        """``edges`` / ``params``: the input edge table and the algorithm's
        configuration; the loop fingerprints both into ``self.lineage``
        (see :func:`_edge_lineage`), which every commit records and
        ``resume`` checks.

        ``auto_free_prev``: in memory mode, release the previous
        superstep's localCheckpointed state when the next one commits
        (safe when the algorithm only ever reads the latest state — WCC,
        LPA, eigenvector). Algorithms that retain older committed frames
        (pagerank's delta fold) pass False and free frames themselves via
        ``free_checkpointed`` once folded."""
        self.spark = spark
        self.name = name
        self.dir = os.path.join(checkpoint_dir, name) if checkpoint_dir else None
        self.lineage = _edge_lineage(edges, params, durable=self.dir is not None)
        self.auto_free_prev = auto_free_prev
        self._prev_cached: DataFrame | None = None
        self.memory_metrics: list[dict] = []
        self._prediction: dict | None = None
        # StorageLevel for in-memory state commits (None = Spark's default);
        # predict() flips it to serialized for large vertex sets (see
        # state_storage_level).
        self.state_level = None

    # -- memory estimation (reference DefaultMemoryGuard analog) ---------
    def predict(
        self,
        node_count: int | None = None,
        edge_count: int | None = None,
        state_row_bytes: int = 32,
        message_row_bytes: int = 24,
    ) -> dict:
        """Predict per-superstep state/shuffle sizes BEFORE the loop runs and
        fold the prediction into every metrics row — the durable analog of
        GDS's memory estimation + guard
        (``memory-estimation/``, ``applications/.../DefaultMemoryGuard.java``:
        GDS *aborts* when estimate > free heap because it cannot spill; a
        shuffle engine spills, so this guard WARNS and records instead).

        state ≈ node_count · state_row_bytes (the vertex-state frame);
        shuffle ≈ edge_count · message_row_bytes (worst-case message volume
        when every vertex is active — delta-push loops usually send far
        less, so this is an upper bound, like the reference's estimates).
        """
        pred: dict = {}
        self.state_level = state_storage_level(node_count)
        if node_count is not None:
            pred["predicted_state_mb"] = round(node_count * state_row_bytes / 1e6, 2)
            if self.state_level is not None:
                pred["state_storage"] = "serialized"
        if edge_count is not None:
            pred["predicted_shuffle_mb"] = round(edge_count * message_row_bytes / 1e6, 2)
        avail = self._available_memory_mb()
        if avail is not None:
            pred["executor_memory_mb"] = round(avail, 0)
            peak = pred.get("predicted_state_mb", 0.0) + pred.get("predicted_shuffle_mb", 0.0)
            if peak > avail:
                logger.warning(
                    "%s: predicted superstep peak %.0f MB exceeds executor "
                    "memory %.0f MB — expect shuffle/agg spill (sizes: %s)",
                    self.name, peak, avail, pred,
                )
                pred["predicted_spill"] = True
        self._prediction = pred
        return pred

    def _available_memory_mb(self) -> float | None:
        """Executor storage+execution memory from the session conf
        (heap × spark.memory.fraction); None if unparsable."""
        try:
            raw = self.spark.conf.get("spark.driver.memory", "1g")
            units = {"k": 1e-3, "m": 1.0, "g": 1e3, "t": 1e6}
            mult = units.get(raw[-1].lower())
            heap_mb = float(raw[:-1]) * mult if mult else float(raw) / 1e6
            frac = float(self.spark.conf.get("spark.memory.fraction", "0.6"))
            return heap_mb * frac
        except Exception:
            return None

    # -- paths -----------------------------------------------------------
    def _state_path(self, superstep: int) -> str:
        return os.path.join(self.dir, f"state_{superstep:05d}")

    def _marker(self, superstep: int) -> str:
        return os.path.join(self._state_path(superstep), "_COMMITTED")

    def _metrics_path(self) -> str:
        return os.path.join(self.dir, "metrics")

    # -- resume ----------------------------------------------------------
    def _committed(self) -> list[int]:
        """Committed supersteps, ascending."""
        if not self.dir or not os.path.isdir(self.dir):
            return []
        return sorted(
            int(d.split("_")[1])
            for d in os.listdir(self.dir)
            if d.startswith("state_") and os.path.exists(self._marker(int(d.split("_")[1])))
        )

    def last_committed(self) -> int | None:
        done = self._committed()
        return done[-1] if done else None

    def resume(self) -> tuple[DataFrame, int] | None:
        """(state, superstep) of the last committed superstep, or None.

        The committed marker records the lineage fingerprint of the edge
        table the checkpoint was built from; a stale checkpoint dir left by
        a *different* graph (or parameter set encoded into the lineage)
        must not be silently adopted — that would resume into wrong final
        results. Mismatch raises instead.
        """
        last = self.last_committed()
        if last is None:
            return None
        try:
            with open(self._marker(last)) as fh:
                marker = json.loads(fh.read() or "{}")
        except Exception:
            marker = {}
        committed_lineage = marker.get("lineage", "")
        if committed_lineage != self.lineage:
            raise ValueError(
                f"checkpoint dir {self.dir!r} was committed for a different "
                f"input (lineage {committed_lineage!r} != current "
                f"{self.lineage!r}); clear the directory or pass the "
                "matching input to resume"
            )
        return self.spark.read.parquet(self._state_path(last)), last

    def committed_states(self) -> list[DataFrame]:
        """Every committed superstep's state, in superstep order — for loops
        whose committed state is a per-superstep delta that resume refolds
        (pagerank). Call after :meth:`resume`, which checks the lineage."""
        return [self.spark.read.parquet(self._state_path(i)) for i in self._committed()]

    # -- commit ----------------------------------------------------------
    def commit(
        self,
        state: DataFrame,
        superstep: int,
        counters: dict | None = None,
        observation=None,
    ) -> DataFrame:
        """Persist state for this superstep; return the re-rooted DataFrame.

        Durable mode writes the state as parquet — the one Spark job of a
        durable commit — then, on the driver with no Spark job, one metrics
        row per committed data file (row counts from the parquet footers)
        and the ``_COMMITTED`` marker. Memory mode localCheckpoints (lineage
        truncation) and keeps one metrics row in-process. Either way the
        returned DataFrame has flat lineage.

        ``observation``: a pyspark Observation whose metrics were attached to
        ``state`` via ``df.observe`` — its values (e.g. active-vertex count)
        are collected from the SAME job that materializes the state, so
        convergence checks cost no extra Spark job. Values are merged into
        the metrics counters.
        """
        t0 = time.monotonic()
        durable = self.dir is not None
        # AQE off for the superstep job only: adaptive execution re-plans
        # every materialization stage-by-stage (ResultQueryStage barriers),
        # pure overhead for loops whose per-round sizes are stable and
        # known. A/B at the 20M-edge bench graph, local[8], 4 runs per
        # setting interleaved: median-of-4 superstep 5.55 s (off) vs
        # 6.55 s (on), min 4.92 vs 5.98 — a consistent ~15%. Restored
        # immediately after the action so one-shot analytic queries
        # (similarity, triangles) keep AQE's skew handling.
        aqe_prev = self.spark.conf.get("spark.sql.adaptive.enabled", "true")
        self.spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            if durable:
                path = self._state_path(superstep)
                state.write.mode("overwrite").parquet(path)
                # The schema is known: pinning it skips the schema-inference
                # job of a plain spark.read.parquet.
                out = self.spark.read.schema(state.schema).parquet(path)
            else:
                out = state.localCheckpoint(eager=True, storageLevel=self.state_level)
                if self.auto_free_prev and self._prev_cached is not None:
                    free_checkpointed(self._prev_cached)
                self._prev_cached = out
        finally:
            self.spark.conf.set("spark.sql.adaptive.enabled", aqe_prev)
        wall_ms = (time.monotonic() - t0) * 1000.0
        if observation is not None:
            merged = dict(counters or {})
            merged.update({k: v for k, v in observation.get.items()})
            counters = merged
        if self._prediction:
            counters = {**self._prediction, **(counters or {})}

        # One metrics row per committed data file is the durable
        # observability contract; in memory mode there are no files and we
        # record one row.
        file_rows: list[int] = []
        if durable:
            # Row counts come from the parquet footers of the committed data
            # files (same name filter as the byte count), so they cost no
            # Spark job. Estimate-vs-actual feedback (r4 verdict item 9):
            # record what the predict() model can be checked against — the
            # committed state's row count and its on-disk parquet bytes. The
            # prediction is an IN-MEMORY upper bound; parquet is
            # columnar-compressed, so estimate_report() compares with a
            # documented factor rather than equality.
            obs_bytes = 0
            for fn in sorted(os.listdir(path)):
                if fn.startswith(("_", ".")):
                    continue
                f = os.path.join(path, fn)
                file_rows.append(pq.read_metadata(f).num_rows)
                obs_bytes += os.path.getsize(f)
            counters = {
                **(counters or {}),
                "observed_state_rows": sum(file_rows),
                "observed_state_parquet_mb": round(obs_bytes / 1e6, 3),
            }
        counters_json = json.dumps(counters or {}, sort_keys=True)
        parts = list(enumerate(file_rows)) or [(-1, 0)]
        rows = [
            {
                "algo": self.name,
                "superstep": superstep,
                "partition": part,
                "rows": n,
                "wall_ms": wall_ms,
                "lineage": self.lineage,
                "counters": counters_json,
            }
            for part, n in parts
        ]
        if durable:
            self._append_metrics(rows, superstep)
            with open(self._marker(superstep), "w") as fh:
                fh.write(json.dumps({"superstep": superstep, "lineage": self.lineage}))
        else:
            self.memory_metrics.extend(rows)
        return out

    def _append_metrics(self, rows: list[dict], superstep: int) -> None:
        """Append one commit's metrics rows as one parquet file, written on
        the driver. The file is written under a hidden name and renamed into
        place, so readers (which skip ``.``-prefixed names) never see a
        partial file."""
        mdir = self._metrics_path()
        os.makedirs(mdir, exist_ok=True)
        name = f"part-{superstep:05d}-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(mdir, "." + name)
        pq.write_table(pa.Table.from_pylist(rows, schema=_METRICS_ARROW_SCHEMA), tmp)
        os.replace(tmp, os.path.join(mdir, name))

    def metrics(self) -> DataFrame:
        if self.dir and os.path.isdir(self._metrics_path()):
            return self.spark.read.schema(METRICS_SCHEMA).parquet(self._metrics_path())
        return self.spark.createDataFrame(self.memory_metrics or [], METRICS_SCHEMA)


# Documented bounds for predicted-in-memory vs observed-on-disk state: the
# predict() model counts deserialized row bytes; committed parquet is
# snappy-compressed columnar (2-16x smaller on numeric state). A ratio
# below MIN means the model UNDERESTIMATED (the dangerous direction — the
# spill warning would stay silent); above MAX the model is so loose it
# stops informing sizing decisions.
ESTIMATE_RATIO_MIN = 0.5
ESTIMATE_RATIO_MAX = 32.0


def estimate_report(metrics_df: DataFrame) -> list[dict]:
    """Predicted-vs-observed comparison rows from a loop's metrics table
    (one dict per algo): the post-run feedback for the ``predict()``
    model. Requires durable (checkpoint_dir) metrics — the observed state
    sizes are recorded at commit time. Metrics tables are tiny (one row
    per data file per superstep), so the driver-side fold is fine."""
    per_algo: dict[str, dict] = {}
    for r in metrics_df.select("algo", "superstep", "counters").distinct().collect():
        c = json.loads(r["counters"] or "{}")
        if "observed_state_rows" not in c:
            continue
        rec = per_algo.setdefault(
            r["algo"],
            {
                "algo": r["algo"],
                "predicted_state_mb": c.get("predicted_state_mb"),
                "peak_observed_state_rows": 0,
                "peak_observed_state_parquet_mb": 0.0,
                "supersteps_observed": 0,
            },
        )
        rec["supersteps_observed"] += 1
        rec["peak_observed_state_rows"] = max(
            rec["peak_observed_state_rows"], int(c["observed_state_rows"])
        )
        rec["peak_observed_state_parquet_mb"] = max(
            rec["peak_observed_state_parquet_mb"], float(c["observed_state_parquet_mb"])
        )
    out = []
    for rec in per_algo.values():
        pred, obs = rec["predicted_state_mb"], rec["peak_observed_state_parquet_mb"]
        if pred is not None and obs:
            rec["state_mb_ratio"] = round(pred / obs, 3)
            rec["within_documented_factor"] = (
                ESTIMATE_RATIO_MIN <= rec["state_mb_ratio"] <= ESTIMATE_RATIO_MAX
            )
        out.append(rec)
    return out


_ROUNDTRIP_BASE: str | None = None
_ROUNDTRIP_FALLBACK: str | None = None
_ROUNDTRIP_SEQ = 0
# seq -> (tag, path, bytes, on_tmpfs) of every live round-trip file, in
# creation order. _ROUNDTRIP_LIVE_BYTES counts ONLY tmpfs-resident files:
# spilled disk-fallback files must not pin the budget, or one overshoot
# would route every future write to disk even after the tmpfs empties.
_ROUNDTRIP_ENTRIES: dict[int, tuple[str, str, int, bool]] = {}
_ROUNDTRIP_LIVE_BYTES = 0
_ROUNDTRIP_BUDGET: int | None = None
_ROUNDTRIP_SPILLED = False


def _roundtrip_atexit() -> None:
    import shutil

    if _ROUNDTRIP_BASE is not None:
        shutil.rmtree(_ROUNDTRIP_BASE, ignore_errors=True)
    if _ROUNDTRIP_FALLBACK is not None:
        shutil.rmtree(_ROUNDTRIP_FALLBACK, ignore_errors=True)


def _free_roundtrip_entry(seq: int) -> None:
    import shutil

    global _ROUNDTRIP_LIVE_BYTES
    entry = _ROUNDTRIP_ENTRIES.pop(seq, None)
    if entry is not None:
        if entry[3]:
            _ROUNDTRIP_LIVE_BYTES -= entry[2]
        shutil.rmtree(entry[1], ignore_errors=True)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _roundtrip_budget() -> int:
    """Byte budget for round-trip files on the tmpfs base. Default: half
    of /dev/shm's free space at first use (a shared-device citizen —
    shuffle and executor local dirs live there too); override with
    ``SPARK_GRAFT_RT_BUDGET_MB``. Exceeding the budget routes NEW files
    to a disk fallback dir instead of aborting or evicting live state."""
    global _ROUNDTRIP_BUDGET
    env = os.environ.get("SPARK_GRAFT_RT_BUDGET_MB")
    if env is not None:
        return int(float(env) * 1e6)
    if _ROUNDTRIP_BUDGET is None:
        try:
            st = os.statvfs("/dev/shm")
            _ROUNDTRIP_BUDGET = (st.f_bavail * st.f_frsize) // 2
        except OSError:
            _ROUNDTRIP_BUDGET = 8 * 10**9
    return _ROUNDTRIP_BUDGET


def roundtrip_mark() -> int:
    """Watermark for :func:`roundtrip_release` — call before a loop that
    creates round-trip files, release after the final result no longer
    references the intermediates."""
    return _ROUNDTRIP_SEQ


def roundtrip_release(mark: int, keep: tuple | list = ()) -> None:
    """Delete every round-trip file created after ``mark`` except those
    backing the frames in ``keep`` (which must themselves be round-trip
    outputs). Callers materialize their FINAL result first, then release —
    intermediates (per-level frontiers, per-round states) are reclaimed
    eagerly instead of accumulating in /dev/shm until process exit."""
    keep_paths = {getattr(d, "_roundtrip_path", None) for d in keep}
    for seq in [s for s in _ROUNDTRIP_ENTRIES if s > mark]:
        if _ROUNDTRIP_ENTRIES[seq][1] not in keep_paths:
            _free_roundtrip_entry(seq)


def materialize_roundtrip(df: DataFrame, tag: str = "state", keep_last: int | None = None) -> DataFrame:
    """Materialize a loop-state frame via a parquet round-trip.

    Why not localCheckpoint or persist? Loops whose per-round plan
    references the previous state MULTIPLE times (Louvain's gain scoring,
    SCC's trim/capture, K1-coloring's validation) hit two different Spark 4
    pathologies:

    - ``localCheckpoint`` rewrites the new LogicalRDD's statistics from the
      *origin plan's* stats (ExistingRDD.rewriteStatsAndConstraints), so
      size estimates compound as ``S_r = S_{r-1}^k`` — BigIntegers whose
      digit count grows exponentially with rounds; the driver ends up
      burning minutes per round inside BigInteger.multiply during stats
      estimation (observed on the Louvain inner loop).
    - ``persist()`` keeps stats concrete but doesn't truncate lineage, and
      the analyzer walks the logical plan as a TREE — k references per
      round unroll into a k^rounds-node walk (observed: minutes inside
      the analyzer's transformUp).

    A parquet write + read is the one primitive that truncates lineage AND
    yields a fresh relation with real file statistics. Files go to a
    session temp dir (tmpfs when available — the same device the shuffle
    already uses). Lifecycle: the whole dir is removed at process exit
    (atexit); ``keep_last=N`` additionally reclaims this *tag*'s files
    beyond the N most recent as soon as the new one is written — the right
    setting for rolling loop state whose previous frame is dead once its
    successor is materialized (long loops over large state would otherwise
    exhaust /dev/shm). Frames with longer lifetimes (per-level frontiers
    consumed by a later sweep) use mark/release instead
    (:func:`roundtrip_mark` / :func:`roundtrip_release`). Durable-loop
    callers use SuperstepLoop's checkpoint_dir, which has the same effect.
    """
    global _ROUNDTRIP_BASE, _ROUNDTRIP_FALLBACK, _ROUNDTRIP_SEQ
    global _ROUNDTRIP_LIVE_BYTES, _ROUNDTRIP_SPILLED
    if _ROUNDTRIP_BASE is None:
        import atexit
        import tempfile

        parent = "/dev/shm" if os.path.isdir("/dev/shm") else None
        _ROUNDTRIP_BASE = tempfile.mkdtemp(prefix="spark_graft_rt_", dir=parent)
        atexit.register(_roundtrip_atexit)
    # Byte budget on the tmpfs base: once live round-trip bytes exceed it,
    # NEW files land in a disk fallback (spark.local.dir / tempdir) so a
    # caller holding many marks degrades to disk speed instead of filling
    # /dev/shm out from under the shuffle.
    base = _ROUNDTRIP_BASE
    if _ROUNDTRIP_LIVE_BYTES > _roundtrip_budget():
        if _ROUNDTRIP_FALLBACK is None:
            import tempfile

            local_dirs = df.sparkSession.conf.get("spark.local.dir", None)
            parent = None
            if local_dirs:
                cand = local_dirs.split(",")[0]
                if os.path.isdir(cand) and not cand.startswith("/dev/shm"):
                    parent = cand
            _ROUNDTRIP_FALLBACK = tempfile.mkdtemp(
                prefix="spark_graft_rt_spill_", dir=parent
            )
        if not _ROUNDTRIP_SPILLED:
            _ROUNDTRIP_SPILLED = True
            logger.info(
                "materialize_roundtrip: live round-trip bytes %d exceed the "
                "tmpfs budget %d — new files spill to %s",
                _ROUNDTRIP_LIVE_BYTES, _roundtrip_budget(), _ROUNDTRIP_FALLBACK,
            )
        base = _ROUNDTRIP_FALLBACK
    _ROUNDTRIP_SEQ += 1
    path = os.path.join(base, f"{tag}_{_ROUNDTRIP_SEQ:06d}")
    df.write.mode("overwrite").parquet(path)
    nbytes = _dir_bytes(path)
    on_tmpfs = base is _ROUNDTRIP_BASE
    _ROUNDTRIP_ENTRIES[_ROUNDTRIP_SEQ] = (tag, path, nbytes, on_tmpfs)
    if on_tmpfs:
        _ROUNDTRIP_LIVE_BYTES += nbytes
    if keep_last is not None:
        same_tag = [s for s, e in _ROUNDTRIP_ENTRIES.items() if e[0] == tag]
        for seq in sorted(same_tag)[:-keep_last]:
            _free_roundtrip_entry(seq)
    out = df.sparkSession.read.schema(df.schema).parquet(path)
    out._roundtrip_path = path
    return out


def _edge_lineage(edges: DataFrame, params: dict | None, durable: bool) -> str:
    """Stable fingerprint of the input edge table for lineage rows.

    File-backed inputs fingerprint by file list; ``params`` folds the
    algorithm's configuration into the string so a checkpoint taken with
    different parameters over the same files is rejected on resume.
    ``durable`` (a checkpoint_dir is in play) additionally hashes the edge
    content of inline/derived frames — otherwise any in-memory frame reads
    as the constant ``"inline"`` and a stale checkpoint from a *different*
    inline graph would be silently adopted. The content hash is one
    full-scan aggregate; in-memory loops never resume, so they skip it
    (durable mode already writes parquet per superstep, so one extra scan
    is noise there).
    """
    try:
        files = edges.inputFiles()
    except Exception:
        files = []
    if files:
        base = json.dumps(sorted(files)[:64])
    elif durable:
        try:
            # bit_xor, not sum: order-insensitive AND overflow-free under
            # ANSI mode (summing ±2^63 hashes overflows long).
            row = edges.select(
                F.bit_xor(F.xxhash64(*edges.columns)).alias("h"),
                F.count(F.lit(1)).alias("c"),
            ).first()
            base = f"inline:h={row['h']},c={row['c']}"
        except Exception:
            base = "inline"
    else:
        base = "inline"
    if params:
        base += "|params:" + json.dumps(
            {k: repr(v) for k, v in params.items()}, sort_keys=True
        )
    return base
