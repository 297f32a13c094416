"""The three workloads: what each times end to end and what its traced run
attributes to which layer.

Every workload has ``prepare`` (seeded inputs and the oracle, untimed),
``warm`` (untimed warm-up on a slice), ``op``/``check`` (one timed
operation and its output check), ``ledger`` (the traced run) and
``finish_ledger`` (values that need the span counts).

Every traced run measures the flagship plan's ablation ledger on its own
pages, so all of them emit the same per-layer set. On top of that the
``filter`` trace measures N -> 4N scaling, the ``resume`` trace the runner,
the salted shuffle and the curation recipe stage by stage, and the
``curate`` trace the recipe stage by stage against the composed recipe.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import sys
import time
import traceback

import pyarrow.parquet as pq

import checks
import host
import inputs

RESUME_CHUNKS = 2
RESUME_REPARTITION = 16
DOMAIN_CAP = 20
TOKENS_PER_DOC = 15  # token budget = this x curate docs: binds on every seed
RECIPE_STAGES = [
    "dedup.canonical_url_dedup",
    "pipeline.kept_pages",
    "dedup.decontaminate",
    "dedup.near_dup_survivors",
    "dedup.strip_duplicate_spans",
    "textanalysis.domain_cap",
    "textanalysis.token_budget_pack",
]


def median(xs):
    return statistics.median(xs)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def first_span(tr, name: str) -> dict:
    return next(s for s in tr.spans if s["name"] == name)


class Ledger:
    """Per-layer values: name -> (value, unit)."""

    def __init__(self):
        self.values: dict[str, tuple] = {}

    def put(self, name: str, value, unit: str) -> None:
        self.values[name] = (value, unit)

    def get(self, name: str):
        return self.values[name][0]


class Workload:
    name = ""
    max_ops = 10**9

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.check_info: dict = {}

    def sub(self, name: str) -> str:
        return os.path.join(self.ctx.work, name)

    def checked(self, fn, *a) -> bool:
        """One checked operation: an exception or a failed check counts
        against ``attempted``."""
        self.attempted += 1
        try:
            self.check_info = fn(*a)
            return True
        except checks.CheckFailed as e:
            self.failed += 1
            print(f"[perfbench] {self.name}: check failed: {e}", file=sys.stderr)
            return False
        except Exception:  # noqa: BLE001  (counted as a failed operation)
            self.failed += 1
            traceback.print_exc()
            return False

    def filter_ledger(self, tr, led: Ledger, pages: inputs.Pages, golden, digest: str,
                      out: str, seconds: float = 0) -> None:
        """Ablate the flagship plan over ``pages``, one span each: scan ->
        extract stage -> fused UDF stage -> + heuristics/verdict (noop
        sink) -> + parquet write; then the full plan again untraced. The
        differences between adjacent ablations are the layer times. Repeats
        while ``seconds`` last (at least once) and takes medians."""
        from curator_spark.operators.udf_stages import extract_stage_narrow, fused_score_stage
        from curator_spark.plans.pipeline import quality_filter

        walls: dict[str, list[float]] = {}
        t_end = time.monotonic() + seconds
        while not walls or time.monotonic() < t_end:
            df = self.spark.read.parquet(pages.path)
            for name, plan in (
                ("scan", lambda: df),
                ("udf_stages.extract", lambda: extract_stage_narrow(df)),
                ("udf_stages.fused", lambda: fused_score_stage(df)),
                ("pipeline.quality_filter_noop", lambda: quality_filter(df)),
            ):
                with tr.span(name) as s:
                    noop(plan())
                walls.setdefault(name, []).append(s["wall_s"])
            shutil.rmtree(out, ignore_errors=True)
            with tr.span("pipeline.quality_filter_write") as s:
                quality_filter(df).write.mode("overwrite").parquet(out)
            walls.setdefault("write", []).append(s["wall_s"])
            self.checked(checks.check_filter, out, golden, digest)
            shutil.rmtree(out, ignore_errors=True)
            was, tr.enabled = tr.enabled, False
            t0 = time.monotonic()
            quality_filter(self.spark.read.parquet(pages.path)).write.mode("overwrite").parquet(out)
            walls.setdefault("untraced", []).append(time.monotonic() - t0)
            tr.enabled = was
            self.checked(checks.check_filter, out, golden, digest)
        m = {k: median(v) for k, v in walls.items()}
        scan = m["scan"]
        fused = m["udf_stages.fused"] - scan
        heur = m["pipeline.quality_filter_noop"] - m["udf_stages.fused"]
        write = m["write"] - m["pipeline.quality_filter_noop"]
        kern = self.kernels(pages.pdf)
        led.put("pipeline.rows", len(pages.pdf), "count")
        led.put("pipeline.ledger_rounds", len(walls["scan"]), "count")
        led.put("scan.s", scan, "s")
        led.put("udf_stages.extract_s", m["udf_stages.extract"] - scan, "s")
        led.put("udf_stages.fused_s", fused, "s")
        # fused UDF time per row and core that no Python kernel accounts
        # for: the Arrow crossing in and out of the Python workers
        led.put("udf_stages.crossing_us",
                fused * self.ctx.nproc / len(pages.pdf) * 1e6 - sum(kern.values()), "us")
        for k, v in kern.items():
            led.put(k, v, "us")
        led.put("heuristics_verdict.s", heur, "s")
        led.put("pipeline.write_s", write, "s")
        led.put("pipeline.bytes_written", dir_bytes(out), "bytes")
        led.put("pipeline.traced_wall_s", m["write"], "s")
        led.put("pipeline.untraced_wall_s", m["untraced"], "s")
        led.put("pipeline.ledger_gap", abs(scan + fused + heur + write - m["untraced"]) / m["untraced"], "ratio")
        led.put("trace.overhead_s", m["write"] - m["untraced"], "s")

    @staticmethod
    def kernels(pdf, n: int = 400, reps: int = 3) -> dict[str, float]:
        """Single-thread per-row cost of the Python kernels the fused UDF
        runs, in the order it runs them, on the first ``n`` rows."""
        from curator_spark import rules
        from curator_spark.lm import get_lm

        lm = get_lm()
        html = pdf["html"].head(n).tolist()
        acc: dict[str, list[float]] = {}

        def timed(name, fn):
            t0 = time.perf_counter()
            out = fn()
            acc.setdefault(name, []).append((time.perf_counter() - t0) / len(html) * 1e6)
            return out

        for _ in range(reps):
            st = timed("rules.extract_us", lambda: [rules.extract_status(h) for h in html])
            trunc = [s[0][: rules.TRUNCATE_CHARS] for s in st]
            timed("rules.langid_us", lambda: rules.langid_token_stats_batch(trunc))
            timed("lm.perplexity_us", lambda: lm.perplexities(trunc))
            timed("rules.scrub_us", lambda: [rules.scrub_text(t) for t in trunc])
        return {k: median(v) for k, v in acc.items()}

    def scaling(self, led: Ledger, files: list[str], seconds: float) -> None:
        """Flagship docs/s at N and 4N CPUs, N = cpus // 4: the running
        Spark node (JVM threads and Python workers) is pinned to the first
        k CPUs of this process's affinity mask and the input is coalesced
        to k partitions, so k tasks run on exactly k CPUs. Refused (null
        plus a reason) when the mask has fewer than 4 CPUs: the pair would
        be oversubscribed."""
        from curator_spark.plans.pipeline import quality_filter

        c = self.ctx
        n = len(c.cpus) // 4
        if n < 1:
            led.put("pipeline.scaling_eff", None, "ratio")
            led.put("pipeline.scaling_refused",
                    f"affinity mask has {len(c.cpus)} CPUs; N->4N needs 4", "text")
            return
        rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        rate = {}
        try:
            for k in (n, 4 * n):
                host.pin_tree(c.cpus[:k])
                rates = []
                t_end = time.monotonic() + seconds
                while len(rates) < 2 or time.monotonic() < t_end:
                    t0 = time.monotonic()
                    noop(quality_filter(self.spark.read.parquet(*files).coalesce(k)))
                    rates.append(rows / (time.monotonic() - t0))
                rate[k] = median(rates)
        finally:
            host.pin_tree(c.cpus)
        led.put("pipeline.scaling_n", n, "count")
        led.put("pipeline.scaling_rows", rows, "count")
        led.put("pipeline.scaling_docs_per_s_n", rate[n], "docs/s")
        led.put("pipeline.scaling_docs_per_s_4n", rate[4 * n], "docs/s")
        led.put("pipeline.scaling_eff", rate[4 * n] / rate[n] / 4, "ratio")

    def spark_counts(self, tr, name: str, led: Ledger) -> None:
        """Jobs/tasks per traced operation ``name`` (mean over its spans)."""
        spans = [s for s in tr.spans if s["name"] == name and s["jobs"]]
        for k in ("jobs", "tasks", "tasks_failed"):
            led.put(f"spark.{k}", sum(s[k] for s in spans) / max(1, len(spans)), "count")


class FilterWorkload(Workload):
    """``quality_filter`` over 10k pages, shuffle-free plan, written once
    as parquet: the flagship and the paper's docs/s."""

    name = "filter"

    def prepare(self):
        c = self.ctx
        self.pages = inputs.filter_pages(c.seed, self.sub("pages"), c.nproc, c.size)
        self.golden = inputs.golden(self.pages.pdf)
        self.digest = checks.label_digest(self.golden)
        self.n_rows = len(self.pages.pdf)
        self.out = self.sub("out")

    def warm(self, seconds: float):
        """The timed operation, untimed, over the whole input for twice as
        long as a run measures (at least twice): after one cold set-up,
        operation time and CPU per operation fall by up to a third over the
        first 15-25 s while the JIT compiles, and a 10 s warm-up left some
        runs still on that slope."""
        from curator_spark.plans.pipeline import quality_filter

        n, t_end = 0, time.monotonic() + 2 * seconds
        while n < 2 or time.monotonic() < t_end:
            quality_filter(self.spark.read.parquet(self.pages.path)).write.mode(
                "overwrite"
            ).parquet(self.sub("warm"))
            n += 1

    def before_op(self):
        shutil.rmtree(self.out, ignore_errors=True)

    def op(self, tr):
        from curator_spark.plans.pipeline import quality_filter

        with tr.span("pipeline.quality_filter_write"):
            quality_filter(self.spark.read.parquet(self.pages.path)).write.mode(
                "overwrite"
            ).parquet(self.out)

    def check(self):
        return checks.check_filter(self.out, self.golden, self.digest)

    def ledger(self, tr, led: Ledger, seconds: float):
        self.filter_ledger(tr, led, self.pages, self.golden, self.digest, self.out, seconds)
        self.scaling(led, self.pages.files[: max(1, len(self.pages.files) // 2)], seconds / 2)

    def finish_ledger(self, tr, led: Ledger):
        self.spark_counts(tr, "pipeline.quality_filter_write", led)


class ResumeWorkload(Workload):
    """The runner lifecycle on 3k pages: a fresh ``run_quality_filter`` (2
    chunks, salted repartition to 16), a simulated crash that removes half
    the committed chunks and the manifest, the resume, a cache-hit probe."""

    name = "resume"

    def prepare(self):
        c = self.ctx
        self.pages = inputs.resume_pages(c.seed, self.sub("pages"), c.nproc, c.size)
        self.golden = inputs.golden(self.pages.pdf)
        self.digest = checks.label_digest(self.golden)
        self.n_rows = len(self.pages.pdf)
        self.root = self.sub("runner")
        self.crashed = sorted(
            random.Random(f"crash-{c.seed}").sample(range(RESUME_CHUNKS), RESUME_CHUNKS // 2)
        )

    def config(self, input_path: str, root: str, chunks: int = RESUME_CHUNKS):
        from curator_spark.plans.runner import RunConfig

        return RunConfig(input_path=input_path, output_root=root, num_chunks=chunks,
                         repartition_to=RESUME_REPARTITION)

    def warm(self, seconds: float):
        """A fresh one-chunk run over the whole input: warms the runner's
        own jobs (partitioned write, per-chunk metrics, quarantine) as well
        as the plan. A whole lifecycle instead took 21 s rather than 12 s
        and left the spread of ``docs_per_s`` across seeds where it was."""
        from curator_spark.plans.runner import run_quality_filter

        run_quality_filter(self.spark, self.config(self.pages.path, self.sub("warm"), 1))

    def before_op(self):
        shutil.rmtree(self.root, ignore_errors=True)

    def op(self, tr):
        from curator_spark.plans.runner import run_quality_filter

        cfg = self.config(self.pages.path, self.root)
        with tr.span("runner.lifecycle"):
            with tr.span("runner.fresh"):
                fresh = run_quality_filter(self.spark, cfg)
            with tr.span("runner.crash"):
                # a crash before the commit leaves neither the chunk nor its
                # metrics row, so the resume has to write both again
                for ch in self.crashed:
                    shutil.rmtree(os.path.join(fresh.run_dir, f"chunk={ch}"))
                    os.remove(os.path.join(self.root, "metrics", f"part-{fresh.run_id}-c{ch}.parquet"))
                os.remove(os.path.join(fresh.run_dir, "manifest.json"))
            with tr.span("runner.resume"):
                self.res = run_quality_filter(self.spark, cfg)
            with tr.span("runner.cache_hit"):
                self.hit = run_quality_filter(self.spark, cfg)

    def check(self):
        if self.res.chunks_run != len(self.crashed) or not self.hit.cache_hit:
            raise checks.CheckFailed(
                f"resume ran {self.res.chunks_run} chunks (want {len(self.crashed)}), "
                f"cache hit {self.hit.cache_hit}"
            )
        return checks.check_resume(self.res.run_dir, self.root, self.res.run_id,
                                   self.golden, self.digest)

    def ledger(self, tr, led: Ledger, seconds: float):
        from pyspark.sql import functions as F

        from curator_spark.functions.partitioning import DEFAULT_SALT, salted_repartition
        from curator_spark.operators.udf_stages import extract_stage_narrow
        from curator_spark.plans.pipeline import quality_filter

        self.before_op()
        self.op(tr)
        self.checked(self.check)
        led.put("runner.bytes_written", dir_bytes(self.res.run_dir), "bytes")

        # the rows the resume re-ran, as one plain parquet write
        bucket = F.pmod(F.xxhash64(F.col("url"), F.lit(DEFAULT_SALT)), F.lit(RESUME_CHUNKS))
        pages = self.spark.read.parquet(self.pages.path)
        with tr.span("pipeline.plain_write") as plain:
            quality_filter(pages.filter(bucket.isin(self.crashed)),
                           repartition_to=RESUME_REPARTITION).write.mode("overwrite").parquet(
                self.sub("plain"))
        led.put("runner.overhead_s", first_span(tr, "runner.resume")["wall_s"] - plain["wall_s"], "s")

        # the salted shuffle of the narrow post-extract rows, as the runner runs it
        narrow = extract_stage_narrow(pages).drop("html", "text")
        with tr.span("partitioning.base") as base:
            noop(narrow)
        shuffled = salted_repartition(narrow, "url", RESUME_REPARTITION)
        with tr.span("partitioning.shuffle") as s:
            noop(shuffled)
        led.put("partitioning.shuffle_s", s["wall_s"] - base["wall_s"], "s")
        sizes = [r["count"] for r in shuffled.groupBy(F.spark_partition_id()).count().collect()]
        sizes += [0] * (RESUME_REPARTITION - len(sizes))
        led.put("partitioning.max_over_mean_rows", max(sizes) * len(sizes) / sum(sizes), "ratio")

        self.filter_ledger(tr, led, self.pages, self.golden, self.digest, self.sub("qf"))

        # the curation recipe stage by stage, on the recipe's own input
        self.recipe = Recipe(self.ctx, self.sub)
        self.checked(self.recipe.staged, self.spark, tr)
        led.put("curate.pages", len(self.recipe.pages.pdf), "count")

    def finish_ledger(self, tr, led: Ledger):
        Recipe.put_stages(tr, led)
        self.spark_counts(tr, "runner.lifecycle", led)
        fresh, resume = first_span(tr, "runner.fresh"), first_span(tr, "runner.resume")
        led.put("runner.fresh_s", fresh["wall_s"], "s")
        led.put("runner.resume_s", resume["wall_s"], "s")
        led.put("runner.cache_hit_ms", first_span(tr, "runner.cache_hit")["wall_s"] * 1e3, "ms")
        led.put("runner.jobs_fresh", fresh["jobs"], "count")
        led.put("runner.jobs_resume", resume["jobs"], "count")


class Recipe:
    """The curation recipe's seeded inputs (~440 pages with re-crawl url
    variants, a contaminant set, the oracle's kept urls) and its
    stage-by-stage run."""

    def __init__(self, ctx, sub):
        self.pages = inputs.curate_pages(ctx.seed, sub("curate_pages"), ctx.size)
        self.golden = inputs.golden(self.pages.pdf)
        self.kept_urls = set(self.golden.loc[self.golden["keep"], "url"])
        self.cont_path = inputs.contaminants(ctx.seed, self.golden, sub("contaminants"), ctx.size)
        self.budget = TOKENS_PER_DOC * inputs.SIZES[ctx.size]["curate_docs"]

    def kwargs(self, spark):
        return dict(url_dedup=True, contaminants=spark.read.parquet(self.cont_path),
                    domain_cap_n=DOMAIN_CAP, token_budget=self.budget)

    def staged(self, spark, tr) -> dict:
        """``pipeline.curate_corpus``'s recipe one stage per span, each
        stage's output persisted and counted inside its span; the final
        output is checked."""
        from pyspark.sql import functions as F

        from curator_spark.operators import dedup
        from curator_spark.operators import textanalysis as ta
        from curator_spark.plans.pipeline import kept_pages, quality_filter

        held = []

        def stage(name, build):
            with tr.span(name) as s:
                df = build().persist()
                held.append(df)
                s["rows_out"] = df.count()
            return df

        def strip(kept, surv):
            corpus = kept.join(surv.select("url"), "url", "left_semi")
            stripped = dedup.strip_duplicate_spans(corpus, text_col="scrubbed_text", key="url", w=8)
            return (
                corpus.join(stripped, "url")
                .filter(F.col("n_kept_words") >= 5)
                .select("url", "warc_ts", "lang_pred", F.col("text_stripped").alias("text"))
            )

        def pack(corpus):
            packed = ta.token_budget_pack_bucketed(corpus, budget=self.budget, k=16,
                                                   text_col="text", key="url")
            return corpus.join(packed.select("url"), "url", "left_semi")

        cont = self.kwargs(spark)["contaminants"]
        try:
            with tr.span("curate.staged"):
                pages = spark.read.parquet(self.pages.path)
                d = stage(RECIPE_STAGES[0], lambda: dedup.canonical_url_dedup(
                    pages, url_col="url", ts_col="warc_ts"))
                kept = stage(RECIPE_STAGES[1], lambda: kept_pages(quality_filter(d)))
                kept = stage(RECIPE_STAGES[2], lambda: dedup.decontaminate(
                    kept, cont, w=13, text_col="scrubbed_text", key="url", cont_text_col="text"))
                surv = stage(RECIPE_STAGES[3], lambda: dedup.near_dup_survivors(
                    kept, text_col="scrubbed_text", key="url", threshold=0.8))
                corpus = stage(RECIPE_STAGES[4], lambda: strip(kept, surv))
                corpus = stage(RECIPE_STAGES[5], lambda: ta.domain_cap(
                    corpus, cap=DOMAIN_CAP).drop("domain"))
                final = stage(RECIPE_STAGES[6], lambda: pack(corpus))
                self.staged_out = final.toPandas()
        finally:
            for df in held:
                df.unpersist()
        return checks.check_curate(self.staged_out, self.kept_urls, DOMAIN_CAP, self.budget)

    @staticmethod
    def put_stages(tr, led: Ledger) -> None:
        for name in RECIPE_STAGES:
            s = first_span(tr, name)
            led.put(f"{name}.s", s["wall_s"], "s")
            led.put(f"{name}.rows_out", s["rows_out"], "count")
            led.put(f"{name}.jobs", s["jobs"], "count")


class CurateWorkload(Workload):
    """``curate_corpus_session`` over the recipe's ~440 pages with url
    dedup, a seeded contaminant set, a per-host cap and a token budget,
    written to parquet. One cold recipe per run: every ``submit_pipeline.py
    --curate`` pays the cold cost, so it is timed."""

    name = "curate"
    max_ops = 1

    def prepare(self):
        self.recipe = Recipe(self.ctx, self.sub)
        self.pages = self.recipe.pages
        self.n_rows = len(self.pages.pdf)
        self.out = self.sub("curated")

    def warm(self, seconds: float):
        pass  # the cold recipe is the timed operation

    def before_op(self):
        shutil.rmtree(self.out, ignore_errors=True)

    def op(self, tr):
        from curator_spark.plans.pipeline import curate_corpus_session

        with tr.span("curate.composed"):
            pages = self.spark.read.parquet(self.pages.path)
            with curate_corpus_session(pages, **self.recipe.kwargs(self.spark)) as corpus:
                corpus.write.mode("overwrite").parquet(self.out)

    def check(self):
        r = self.recipe
        out = checks.read_dirs([self.out])
        info = checks.check_curate(out, r.kept_urls, DOMAIN_CAP, r.budget)
        info["digest"] = checks.corpus_digest(out)
        return info

    def same_as_staged(self) -> dict:
        composed = checks.corpus_digest(checks.read_dirs([self.out]))
        if composed != checks.corpus_digest(self.recipe.staged_out):
            raise checks.CheckFailed("composed recipe output differs from the staged ledger's")
        return {"digest": composed}

    def ledger(self, tr, led: Ledger, seconds: float):
        self.checked(self.recipe.staged, self.spark, tr)
        led.put("curate.pages", self.n_rows, "count")
        self.before_op()
        was, tr.enabled = tr.enabled, False
        t0 = time.monotonic()
        self.op(tr)
        led.put("curate.composed_wall_s", time.monotonic() - t0, "s")
        tr.enabled = was
        self.checked(self.check)
        self.checked(self.same_as_staged)
        golden = self.recipe.golden
        self.filter_ledger(tr, led, self.pages, golden, checks.label_digest(golden), self.sub("qf"))

    def finish_ledger(self, tr, led: Ledger):
        self.spark_counts(tr, "curate.staged", led)
        Recipe.put_stages(tr, led)
        staged = sum(led.get(f"{n}.s") for n in RECIPE_STAGES)
        led.put("curate.ledger_coverage", staged / led.get("curate.composed_wall_s"), "ratio")


WORKLOADS = {w.name: w for w in (FilterWorkload, ResumeWorkload, CurateWorkload)}
