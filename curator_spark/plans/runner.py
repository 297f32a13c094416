"""Lifecycle runner — the curator-semantics layer (SURVEY.md §7 M4).

Re-expresses the reference's driver-side lifecycle on Spark:

- **Run fingerprint** (whole-run memoization): content hash of input path +
  config + the source of every semantics-bearing module. Analog of
  xxh64(dataset fingerprint, prompt-func pickle hash, model, params)
  (/root/reference/src/bespokelabs/curator/llm/llm.py:140-165, :271-302).
- **Cache probe**: committed output for the same fingerprint -> return it
  without launching a job (base_request_processor.py:127-130,315-336).
- **Chunked execution + staged commit**: the input is split into
  deterministic url-hash chunks (analog of ceil(n/batch_size) request files,
  base_request_processor.py:252-270); each chunk's output is written to a
  staging dir then atomically renamed with a manifest — the parquet stand-in
  for an Iceberg snapshot commit (SURVEY.md §7 "Resume atomicity without
  Iceberg").
- **Resume**: on rerun, committed chunks are skipped entirely; a partially
  written chunk is invisible (staging never renamed) and recomputed. ALL
  missing chunks run as ONE job (never a scan per chunk), and with
  ``chunk_input=True`` the input is staged partitioned-by-chunk so a resume
  reads only the missing chunks' files — true scan pruning, the parquet
  analog of Iceberg partition predicates on url-hash bucket. Row-level
  parity with the completed-ids anti-join (base_online_request_processor.py:
  332-336,354) comes free: chunk membership is a pure function of url.
- **Failed-row quarantine**: rows with a per-row extract error commit into a
  ``failed_rows`` table (url, warc_ts, error) partitioned by (run, chunk) —
  the failed-requests sink analog (base_request_processor.py:459-488).
- **Metrics**: one counter row per (run, chunk) — docs seen/kept/dropped/
  failed, drops and scrubs per rule, the wall of the job that produced the
  chunk — appended to a metrics table (analog of the status trackers,
  online_status_tracker.py:44-93). The counters are observed on the
  chunk write itself (one ``Observation``), never by re-reading the output.
- **Run catalog**: one row per run in a ``runs`` table (analog of the SQLite
  metadata DB, db.py:61-137).
- **Bounded retries**: failed chunks retried up to ``max_attempts`` on top of
  Spark's own task retries (config.py:28 semantics).
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import shutil
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime, timezone

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from .. import lm as _lm_mod
from .. import rules as _rules_mod
from ..functions.partitioning import DEFAULT_SALT
from . import pipeline as _pipeline_mod


@dataclass
class RunConfig:
    input_path: str
    output_root: str
    num_chunks: int = 4
    repartition_to: int | None = None
    salt: str = DEFAULT_SALT
    max_attempts: int = 3
    # Stage the input partitioned by chunk before processing (one extra
    # full-input write). Resume then READS ONLY the missing chunks' input
    # files — true scan pruning, the parquet analog of Iceberg partition
    # predicates on (url-hash bucket). Worth it when resumes/increments are
    # expected; pure overhead for fire-and-forget runs.
    chunk_input: bool = False
    extra: dict = field(default_factory=dict)

    def to_json(self) -> str:
        return json.dumps(
            {
                "input_path": self.input_path,
                "num_chunks": self.num_chunks,
                "repartition_to": self.repartition_to,
                "salt": self.salt,
                "chunk_input": self.chunk_input,
                "extra": self.extra,
            },
            sort_keys=True,
        )


def run_fingerprint(config: RunConfig) -> str:
    """Deterministic run id: config + semantics-module sources.

    Editing rules.py / lm.py / pipeline.py invalidates the cache exactly like
    the reference's dill function-hash invalidates on closure edits
    (tests/unittests/test_caching.py:99-184 semantics)."""
    h = hashlib.sha256()
    h.update(config.to_json().encode())
    for mod in (_rules_mod, _lm_mod, _pipeline_mod):
        h.update(inspect.getsource(mod).encode())
    return h.hexdigest()[:16]


# ---------------------------------------------------------------------------
# Staged-commit primitives (Iceberg-snapshot stand-in on plain parquet)
# ---------------------------------------------------------------------------


def _chunk_dir(run_dir: str, chunk: int) -> str:
    return os.path.join(run_dir, f"chunk={chunk}")


def _is_committed(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _staged_write(df: DataFrame, final_dir: str) -> None:
    """Write to a staging dir, then atomic rename. A crash mid-write leaves
    only staging garbage, never a half-visible commit."""
    staging = final_dir + f".staging-{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").parquet(staging)
    if os.path.exists(final_dir):
        shutil.rmtree(final_dir)
    os.rename(staging, final_dir)


def _ensure_chunked_input(
    spark: SparkSession, config: "RunConfig", run_dir: str, pages: DataFrame, bucket
) -> str:
    """Stage the input partitioned by chunk (write-once, atomically
    committed). Chunk membership is a computed column, so the raw input
    offers NO scan-level pruning on resume; this one-time layout pass is the
    parquet stand-in for an Iceberg table partitioned by url-hash bucket
    (reference lifecycle analog: persisted request files reloaded per batch,
    base_batch_request_processor.py:285-309)."""
    root = os.path.join(run_dir, "input_chunked")
    if not _is_committed(root):
        staging = root + f".staging-{uuid.uuid4().hex[:8]}"
        try:
            pages.withColumn("chunk", bucket).write.mode("overwrite").partitionBy(
                "chunk"
            ).parquet(staging)
            for c in range(config.num_chunks):  # empty chunks still need a dir
                os.makedirs(os.path.join(staging, f"chunk={c}"), exist_ok=True)
            open(os.path.join(staging, "_SUCCESS"), "a").close()
            if os.path.exists(root):
                shutil.rmtree(root)
            os.rename(staging, root)
        except Exception:
            shutil.rmtree(staging, ignore_errors=True)  # no full-input orphan
            raise
    return root


def _append_table(root: str, name: str, pdf: pd.DataFrame, filename: str | None = None) -> None:
    """Append-only driver-side table (metrics / runs catalog): one parquet
    file per append, read back as a directory dataset. A deterministic
    ``filename`` makes the append IDEMPOTENT (a retry overwrites its own
    earlier file instead of duplicating the row) — used for per-chunk
    metrics so crash/retry can never double-count."""
    d = os.path.join(root, name)
    os.makedirs(d, exist_ok=True)
    pdf = pdf.copy()
    for col in pdf.columns:  # Spark's parquet reader rejects TIMESTAMP(NANOS)
        if str(pdf[col].dtype).startswith("datetime64[ns"):
            pdf[col] = pdf[col].astype("datetime64[us, UTC]")
    pdf.to_parquet(
        os.path.join(d, filename or f"part-{uuid.uuid4().hex}.parquet"), index=False
    )


def _write_empty_parquet(path: str, schema: StructType) -> None:
    """Overwrite ``path`` with one zero-row parquet file of Spark's
    ``schema``, written from the driver: an empty chunk or a clean chunk's
    quarantine partition still reads back, without launching a job."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    pq.write_table(
        to_arrow_schema(schema).empty_table(), os.path.join(path, "part-00000-empty.parquet")
    )


def read_table(spark: SparkSession, root: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(root, name))


@contextmanager
def _job_description(spark: SparkSession, run_id: str, step: str):
    """Label the Spark jobs launched inside as ``runner:<run_id>:<step>``, so
    an event log maps each job to its runner step; the caller's own
    description is restored on exit."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(f"runner:{run_id}:{step}")
    try:
        yield
    finally:
        sc.setJobDescription(prev)


# ---------------------------------------------------------------------------
# Metrics
# ---------------------------------------------------------------------------

_SCRUB_RULES = ("email", "phone", "ip", "ssn", "toxicity")


def _catalog_event(config: "RunConfig", run_id: str, status: str) -> None:
    """One lifecycle row in the runs catalog (STARTED | COMPLETED | FAILED |
    CANCELLED — the batch state machine analog, batch_status_tracker.py:62-66)."""
    _append_table(
        config.output_root,
        "runs_catalog",
        pd.DataFrame(
            [
                {
                    "run_id": run_id,
                    "input_snapshot": config.input_path,
                    "config_json": config.to_json(),
                    "status": status,
                    "event_time": datetime.now(timezone.utc),
                }
            ]
        ),
    )


# Each metrics counter's per-row value over the verdict table, as SQL; a
# chunk's counter is the sum over its rows. The one counter definition both
# runner paths observe. SQL text rather than Columns: an observation holds
# chunks x counters aggregates, and building each through the Column API
# costs ~3 ms of driver round trips (~0.9 s at 16 chunks) against ~0.4 ms
# parsed from text.
_COUNTERS = {
    "docs_seen": "1L",
    "docs_kept": "CAST(keep AS BIGINT)",
    "docs_dropped": "CAST(NOT keep AS BIGINT)",
    "docs_flagged": "CAST(size(drop_rules) > 0 AS BIGINT)",
    "docs_failed": "CAST(error IS NOT NULL AS BIGINT)",
    **{f"drops_{r}": f"CAST(array_contains(drop_rules, '{r}') AS BIGINT)"
       for r in _rules_mod.RULE_NAMES},
    **{f"scrubs_{s}": f"CAST(scrub_{s} AS BIGINT)" for s in _SCRUB_RULES},
}


def _observe_counters(
    df: DataFrame, chunks: list[int], chunk: str
) -> tuple[DataFrame, Observation]:
    """Attach every chunk's counters to ``df`` as ONE Observation of
    conditional sums over the SQL expression ``chunk``: they are computed
    by the action that consumes the returned frame, with no job of their
    own.

    Observe the frame the write consumes, above every exchange: the node
    then runs in the write's result stage, whose task results Spark merges
    once per partition even when tasks retry. Below an exchange it would
    sit in a shuffle-map stage that a fetch failure re-runs, counting rows
    twice."""
    obs = Observation()
    aggs = [
        F.expr(f"sum(CASE WHEN {chunk} = {c} THEN {value} END) AS `{c}:{name}`")
        for c in chunks
        for name, value in _COUNTERS.items()
    ]
    return df.observe(obs, *aggs), obs


def _observed_counts(obs: Observation) -> dict[int, dict[str, int]]:
    """chunk -> counter -> value, read once after the observed action ran
    (a chunk with no rows sums to NULL, i.e. 0)."""
    counts: dict[int, dict[str, int]] = {}
    for key, value in obs.get.items():
        c, name = key.split(":", 1)
        counts.setdefault(int(c), {})[name] = int(value or 0)
    return counts


def _commit_chunk_metrics(
    output_root: str, run_id: str, chunk: int, counts: dict[str, int], wall_ms: int
) -> None:
    """The chunk's one metrics row. The deterministic filename makes the
    commit idempotent: a retry overwrites its own earlier row instead of
    adding a second."""
    row = {"run_id": run_id, "chunk": chunk, **counts, "wall_ms": wall_ms,
           "committed_at": datetime.now(timezone.utc)}
    _append_table(output_root, "metrics", pd.DataFrame([row]),
                  filename=f"part-{run_id}-c{chunk}.parquet")


def _drop_uncommitted_rows(config: RunConfig, run_id: str, run_dir: str) -> None:
    """Metrics/quarantine commit BEFORE the chunk rename (so a committed
    chunk can never lack them); on terminal failure this restores the
    inverse guarantee by dropping the provisional rows of chunks that never
    committed (deterministic filenames make it a targeted delete)."""
    for c in range(config.num_chunks):
        if not _is_committed(_chunk_dir(run_dir, c)):
            m = os.path.join(config.output_root, "metrics", f"part-{run_id}-c{c}.parquet")
            if os.path.exists(m):
                os.remove(m)
            shutil.rmtree(
                os.path.join(config.output_root, "failed_rows", f"run_id={run_id}", f"chunk={c}"),
                ignore_errors=True,
            )
    run_q = os.path.join(config.output_root, "failed_rows", f"run_id={run_id}")
    if os.path.isdir(run_q) and not os.listdir(run_q):
        os.rmdir(run_q)


# ---------------------------------------------------------------------------
# The runner
# ---------------------------------------------------------------------------


@dataclass
class RunResult:
    run_id: str
    run_dir: str
    cache_hit: bool
    chunks_run: int
    chunks_skipped: int


def run_quality_filter(spark: SparkSession, config: RunConfig) -> RunResult:
    """Execute (or resume, or cache-hit) a full quality-filter run."""
    run_id = run_fingerprint(config)
    run_dir = os.path.join(config.output_root, "runs", run_id)
    os.makedirs(run_dir, exist_ok=True)
    manifest_path = os.path.join(run_dir, "manifest.json")

    if os.path.exists(manifest_path):  # cache probe: whole-run memoization
        return RunResult(run_id, run_dir, cache_hit=True, chunks_run=0, chunks_skipped=config.num_chunks)

    _catalog_event(config, run_id, "STARTED")

    with _job_description(spark, run_id, "read_input"):
        pages = spark.read.parquet(config.input_path)
    # chunk membership = pure function of url -> stable across reruns/retries
    bucket = F.pmod(F.xxhash64(F.col("url"), F.lit(config.salt)), F.lit(config.num_chunks))

    missing = [c for c in range(config.num_chunks) if not _is_committed(_chunk_dir(run_dir, c))]
    chunks_skipped = config.num_chunks - len(missing)
    chunks_run = 0

    def _commit_failed_rows(chunk: int, data_dir: str, schema: StructType, n_failed: int) -> None:
        """K3 quarantine: rows whose extract failed land in a persisted
        ``failed_rows`` table a user can inspect and re-drive (analog of the
        failed-requests sink, base_request_processor.py:459-488). Hive-style
        (run_id, chunk) subdir + overwrite mode -> idempotent under retries.
        Only a chunk whose observed ``docs_failed`` is non-zero pays a job;
        a clean chunk gets its empty partition from the driver."""
        dest = os.path.join(
            config.output_root, "failed_rows", f"run_id={run_id}", f"chunk={chunk}"
        )
        failed = ["url", "warc_ts", "error"]
        if n_failed == 0:
            _write_empty_parquet(dest, StructType([schema[c] for c in failed]))
            return
        with _job_description(spark, run_id, f"quarantine:c{chunk}"):
            (
                spark.read.schema(schema).parquet(data_dir)
                .filter(F.col("error").isNotNull())
                .select(*failed)
                .write.mode("overwrite")
                .parquet(dest)
            )

    # ONE job per attempt covering EVERY missing chunk (fresh run = all of
    # them): output partitioned by chunk, then per-chunk atomic promotion.
    # Per-chunk jobs would scan the input once per chunk — at 100 TB that is
    # num_chunks full scans. The missing list is recomputed from committed
    # state at the top of every attempt, so a retry after a partial
    # promotion never re-runs, re-promotes, or double-counts a chunk that
    # already committed (idempotent metrics/quarantine appends).
    attempt = 0
    while True:
        missing = [
            c for c in range(config.num_chunks) if not _is_committed(_chunk_dir(run_dir, c))
        ]
        if not missing:
            break
        attempt += 1
        staging = None
        try:
            t0 = time.monotonic()
            if config.chunk_input:
                # scan pruning: read ONLY the missing chunks' input files
                with _job_description(spark, run_id, "stage_input"):
                    in_root = _ensure_chunked_input(spark, config, run_dir, pages, bucket)
                dirs = [
                    d
                    for c in missing
                    for d in [os.path.join(in_root, f"chunk={c}")]
                    if any(f.endswith(".parquet") for f in os.listdir(d))
                ]
                src = (
                    spark.read.option("basePath", in_root).parquet(*dirs).drop("chunk")
                    if dirs
                    else spark.createDataFrame([], pages.schema)
                )
            elif len(missing) == config.num_chunks:
                src = pages  # fresh run: exactly one full scan, no predicate
            else:
                src = pages.filter(bucket.isin([int(c) for c in missing]))
            out = _pipeline_mod.quality_filter(
                src, repartition_to=config.repartition_to, salt=config.salt
            ).withColumn("chunk", bucket)
            # the counters ride the write: no job of their own
            observed, obs = _observe_counters(out, missing, "chunk")
            staging = os.path.join(run_dir, f"all.staging-{uuid.uuid4().hex[:8]}")
            with _job_description(spark, run_id, "write"):
                observed.write.mode("overwrite").partitionBy("chunk").parquet(staging)
            wall_ms = int((time.monotonic() - t0) * 1000)
            counts = _observed_counts(obs)
            schema = out.drop("chunk").schema
            for chunk in missing:
                src_dir = os.path.join(staging, f"chunk={chunk}")
                cdir = _chunk_dir(run_dir, chunk)
                if not os.path.isdir(src_dir):  # empty chunk: readers still see the schema
                    _write_empty_parquet(src_dir, schema)
                # metrics + quarantine FIRST (both idempotent), THEN the
                # atomic rename — the rename is the single commit point, so
                # a chunk can never be committed without its metrics, and a
                # retry overwrites rather than duplicates. Every chunk of
                # the attempt was produced by the one write: its wall is
                # the attempt's.
                _commit_chunk_metrics(config.output_root, run_id, chunk, counts[chunk], wall_ms)
                _commit_failed_rows(chunk, src_dir, schema, counts[chunk]["docs_failed"])
                open(os.path.join(src_dir, "_SUCCESS"), "a").close()
                if os.path.exists(cdir):
                    shutil.rmtree(cdir)
                os.rename(src_dir, cdir)
                chunks_run += 1
        except Exception:
            if attempt >= config.max_attempts:
                _drop_uncommitted_rows(config, run_id, run_dir)
                _catalog_event(config, run_id, "FAILED")
                raise
        finally:
            # promoted chunks were renamed OUT of staging; whatever remains
            # (full output copies on a failed attempt) must not accumulate
            # across retries — at 100 TB that is terabytes per failed attempt
            if staging is not None:
                shutil.rmtree(staging, ignore_errors=True)

    # require_all check (config.py:30 semantics): every chunk committed
    missing = [c for c in range(config.num_chunks) if not _is_committed(_chunk_dir(run_dir, c))]
    if missing:
        raise RuntimeError(f"run {run_id} incomplete, missing chunks {missing}")

    with open(manifest_path + ".tmp", "w") as f:
        json.dump(
            {
                "run_id": run_id,
                "config": json.loads(config.to_json()),
                "num_chunks": config.num_chunks,
                "committed_at": datetime.now(timezone.utc).isoformat(),
            },
            f,
        )
    os.rename(manifest_path + ".tmp", manifest_path)

    _catalog_event(config, run_id, "COMPLETED")
    return RunResult(run_id, run_dir, cache_hit=False, chunks_run=chunks_run, chunks_skipped=chunks_skipped)


def load_output(spark: SparkSession, result: RunResult) -> DataFrame:
    return spark.read.parquet(os.path.join(result.run_dir, "chunk=*"))


def run_incremental(
    spark: SparkSession, config: RunConfig, prior: RunResult
) -> RunResult:
    """Process only pages NOT present in a prior run's committed output and
    commit them as an increment of the new run (the daily-crawl-dump case:
    the input grew; re-scoring already-committed urls is pure waste).

    Plan: anti-join new input against the prior output's url set (broadcast
    when small, shuffle otherwise — Catalyst decides), run the pipeline on
    the remainder only, then copy forward the prior chunks. Output layout,
    fingerprint and resume semantics equal a fresh full run's — downstream
    consumers cannot tell the difference.
    """
    run_id = run_fingerprint(config)
    run_dir = os.path.join(config.output_root, "runs", run_id)
    os.makedirs(run_dir, exist_ok=True)
    manifest_path = os.path.join(run_dir, "manifest.json")
    if os.path.exists(manifest_path):
        return RunResult(run_id, run_dir, True, 0, config.num_chunks)

    # same lifecycle-audit records as a fresh run — downstream consumers and
    # the catalog genuinely cannot tell the difference
    _catalog_event(config, run_id, "STARTED")
    try:
        return _run_incremental_body(spark, config, prior, run_id, run_dir, manifest_path)
    except Exception:
        _drop_uncommitted_rows(config, run_id, run_dir)
        _catalog_event(config, run_id, "FAILED")
        raise


def _prior_output_by_chunk(
    spark: SparkSession, config: RunConfig, prior: RunResult
) -> tuple[DataFrame, bool]:
    """Prior committed output with a ``chunk`` column for the per-chunk merge.

    The committed layout is already ``chunk=c`` directories, so when the
    prior run's chunk layout (salt, num_chunks) matches the new config the
    directory names ARE the membership: reading them as a Hive partition
    column makes each per-chunk ``filter(chunk == c)`` prune to ONE directory
    at file level. Recomputing membership as ``pmod(xxhash64(url), k)`` (the
    pre-round-4 form) defeats pruning — every per-chunk merge job re-scanned
    the FULL prior output, i.e. num_chunks full scans at 100 TB. A prior run
    with a different layout (different salt or chunk count) still falls back
    to the recompute form, which re-buckets rows correctly.

    Returns (df, pruned) — ``pruned`` tells tests/callers which path ran.
    """
    layout = None
    try:
        with open(os.path.join(prior.run_dir, "manifest.json")) as f:
            c = json.load(f).get("config", {})
        layout = (c.get("salt"), c.get("num_chunks"))
    except (OSError, json.JSONDecodeError):
        pass  # legacy/partial prior dir: fall back to recomputed membership
    if layout == (config.salt, config.num_chunks):
        df = spark.read.option("basePath", prior.run_dir).parquet(
            os.path.join(prior.run_dir, "chunk=*")
        )
        return df, True
    df = spark.read.parquet(os.path.join(prior.run_dir, "chunk=*")).withColumn(
        "chunk",
        F.pmod(F.xxhash64(F.col("url"), F.lit(config.salt)), F.lit(config.num_chunks)),
    )
    return df, False


def _run_incremental_body(
    spark: SparkSession,
    config: RunConfig,
    prior: RunResult,
    run_id: str,
    run_dir: str,
    manifest_path: str,
) -> RunResult:
    with _job_description(spark, run_id, "read_input"):
        pages = spark.read.parquet(config.input_path)
        done_urls = load_output(spark, prior).select("url")
    remainder = pages.join(done_urls, "url", "left_anti")
    bucket = F.pmod(F.xxhash64(F.col("url"), F.lit(config.salt)), F.lit(config.num_chunks))

    t0 = time.monotonic()
    new_out = _pipeline_mod.quality_filter(
        remainder, repartition_to=config.repartition_to, salt=config.salt
    ).withColumn("chunk", bucket)
    staging = os.path.join(run_dir, f"inc.staging-{uuid.uuid4().hex[:8]}")
    with _job_description(spark, run_id, "write"):
        new_out.write.mode("overwrite").partitionBy("chunk").parquet(staging)
    score_ms = int((time.monotonic() - t0) * 1000)

    prior_by_chunk, _ = _prior_output_by_chunk(spark, config, prior)
    for chunk in range(config.num_chunks):
        t1 = time.monotonic()
        cdir = _chunk_dir(run_dir, chunk)
        src = os.path.join(staging, f"chunk={chunk}")
        merged_staging = cdir + f".staging-{uuid.uuid4().hex[:8]}"
        parts = [prior_by_chunk.filter(F.col("chunk") == chunk).drop("chunk")]
        if os.path.isdir(src):
            parts.append(spark.read.parquet(src))
        merged = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
        # the merge write is the chunk's only full pass: count it there
        observed, obs = _observe_counters(merged, [chunk], str(chunk))
        with _job_description(spark, run_id, f"merge:c{chunk}"):
            observed.write.mode("overwrite").parquet(merged_staging)
        # the chunk's wall: the shared scoring write plus its own merge
        wall_ms = score_ms + int((time.monotonic() - t1) * 1000)
        _commit_chunk_metrics(
            config.output_root, run_id, chunk, _observed_counts(obs)[chunk], wall_ms
        )
        if os.path.exists(cdir):
            shutil.rmtree(cdir)
        os.rename(merged_staging, cdir)
    shutil.rmtree(staging, ignore_errors=True)

    with open(manifest_path + ".tmp", "w") as f:
        json.dump(
            {
                "run_id": run_id,
                "config": json.loads(config.to_json()),
                "num_chunks": config.num_chunks,
                "incremental_from": prior.run_id,
                "committed_at": datetime.now(timezone.utc).isoformat(),
            },
            f,
        )
    os.rename(manifest_path + ".tmp", manifest_path)
    _catalog_event(config, run_id, "COMPLETED")
    return RunResult(run_id, run_dir, False, config.num_chunks, 0)


def cancel_run(config: RunConfig) -> str:
    """Mark an in-flight run CANCELLED in the catalog (batch-cancel analog,
    llm.py:236-244 / base_batch_request_processor.py:739-754). Committed
    chunks stay on disk — a later run of the same fingerprint resumes from
    them; the catalog records that this attempt was aborted deliberately."""
    run_id = run_fingerprint(config)
    _catalog_event(config, run_id, "CANCELLED")
    return run_id


def metrics_summary(spark: SparkSession, output_root: str, run_id: str | None = None) -> DataFrame:
    """A2/A3 roll-up over the per-chunk metrics table: totals per run —
    docs seen/kept/dropped and per-rule drop/scrub counters (the analog of
    curator's end-of-run status report, online_status_tracker.py:504-519)."""
    m = read_table(spark, output_root, "metrics")
    if run_id is not None:
        m = m.filter(F.col("run_id") == run_id)
    sums = [
        F.sum(c).alias(c)
        for c in m.columns
        if c.startswith(("docs_", "drops_", "scrubs_"))
    ]
    return m.groupBy("run_id").agg(*sums)


def resume_remainder(spark: SparkSession, pages: DataFrame, result: RunResult) -> DataFrame:
    """Row-level anti-join view: input rows not yet in committed output
    (J2/F1, SURVEY.md §2.5) — for ad-hoc remainder inspection."""
    done = load_output(spark, result).select("url")
    return pages.join(done, "url", "left_anti")
