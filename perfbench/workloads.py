"""The benchmark's workloads. Each is a closed loop of batch jobs on one
driver process: the next job starts only after the previous one ends.

- ``extract_cc``: a fresh ``run_extraction`` over Common-Crawl-sized
  pages into an empty root, then the same call again over the finished
  root (every shard already in lineage).
- ``extract_refresh``: ``run_extraction_incremental`` at 5% churn
  against a base snapshot built during set-up, then the same resume. Its
  traced run also refreshes the full corpus pipeline
  (``run_pipeline(previous_path=...)``: filters and incremental dedup).

``run_untraced`` gives the end-to-end metrics; ``run_traced`` is a
separate run that gives the per-layer metrics from spans around calls
into the program's public functions and from Spark's event log. Weak
scaling (local[1] over a quarter of the corpus) is measured in
``extract_cc``'s traced run only: it needs a second Spark context with its
own warm-up pass, which the untraced run's time budget cannot carry.
"""

from __future__ import annotations

import gc
import os
import random
import time
from statistics import median

import gate
import gen
from probe import EventLog, RssSampler, Stopwatch, Tracer, du_bytes, wipe

NUM_SHARDS = 16
SIZES = {"extract_cc": 240, "extract_refresh": 200}
SMALL_PAGES = 1500  # positions-on tokenizer probe in the traced run
KERNEL_SAMPLE_MB = 1.0


class Bench:
    """Paths, corpus and Spark sessions of one run."""

    def __init__(self, workload: str, seed: int, seconds: float, work: str):
        self.workload, self.seed, self.seconds, self.work = workload, seed, seconds, work
        self.cores = len(os.sched_getaffinity(0))  # what nproc reports
        self.info: dict = {"workload": workload, "seed": seed, "cores": self.cores}
        self.gate = gate.Gate()
        self.attempted = 0
        self.spark = None
        self.t0 = time.perf_counter()

    def mark(self, phase: str) -> None:
        """Record when a phase of the run ended (seconds since start)."""
        self.info.setdefault("marks", {})[phase] = round(time.perf_counter() - self.t0, 2)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # ------------------------------------------------------ sessions

    def start(self, cores: int, event_log: bool = False):
        from sax_wasm_spark.session import get_spark  # noqa: PLC0415

        conf = {"spark.sql.warehouse.dir": self.path("warehouse")}
        if event_log:
            os.makedirs(self.path("eventlog"), exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.path("eventlog"),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.spark = get_spark(app_name=f"perfbench-{self.workload}", cores=cores, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def warm_up(self) -> None:
        """One untimed pass of the extraction operator over 64 pages in
        one partition per core: spawns every Python worker and loads the
        kernel in it."""
        from sax_wasm_spark.operators.extract import extract_main_content  # noqa: PLC0415

        pages = self.spark.createDataFrame(self.warm.to_pandas())
        extract_main_content(pages).write.format("noop").mode("overwrite").save()

    def set_up(self, times: int, event_log: bool = False) -> list:
        """Session start plus warm-up, ``times`` times; the last session
        stays open. Returns each set-up's Stopwatch."""
        walls = []
        for k in range(times):
            if k:
                self.stop()
            with Stopwatch() as sw:
                self.start(self.cores, event_log)
                self.warm_up()
            walls.append(sw)
        return walls

    def pages(self, name: str):
        return self.spark.read.parquet(self.path(name))

    # ------------------------------------------------------ corpora

    def make_inputs(self, n: int) -> None:
        t = time.perf_counter()
        if self.workload == "extract_cc":
            self.table, facts = gen.make_cc(self.seed, n)
            self.info["planted"] = facts
        else:
            base, self.table, self.facts = gen.make_refresh(self.seed, n)
            gen.write(base, self.path("base_pages"))
            self.info["planted"] = {k: len(v) for k, v in self.facts.items()}
        quarter = gen.quarter(self.table, self.seed)
        gen.write(self.table, self.path("pages"))
        gen.write(quarter, self.path("quarter"))
        self.n_quarter = quarter.num_rows
        self.warm = self.table.slice(0, 64)
        self.urls = self.table.column("url").to_pylist()
        self.html_by_url = dict(zip(self.urls, self.table.column("html").to_pylist()))
        self.info["input"] = gen.describe(self.table)
        self.info["gen_s"] = round(time.perf_counter() - t, 3)

    # ------------------------------------------------------ checks

    def check_extracted(self, root: str, digest_prev: list) -> list[dict]:
        """Gate the ``extracted`` table under ``root``; returns its rows."""
        rows = gate.read_rows(os.path.join(root, "extracted"))
        gate.check_urls(self.gate, rows, self.urls)
        gate.check_sample(self.gate, rows, self.html_by_url, self.seed, 6)
        d = gate.digest(rows)
        if digest_prev and d != digest_prev[0]:
            self.gate.fail("digest differs between repetitions of the same job")
        digest_prev[:] = [d]
        self.attempted += len(self.urls)
        return rows

    def finish_gate(self, rows: list[dict]) -> None:
        d = gate.digest(rows)
        self.info["digest"] = d
        gate.check_pin(self.gate, self.workload, self.seed, d)
        if not gate.self_test(rows, self.html_by_url, self.seed):
            self.gate.fail("self-test: a flipped output byte passed the gate")


# ------------------------------------------------------------ jobs


def _extract(b: Bench, pages, root: str, run_id: str) -> dict:
    from sax_wasm_spark.plans.lineage import run_extraction  # noqa: PLC0415

    return run_extraction(b.spark, pages, root, num_shards=NUM_SHARDS, run_id=run_id)


def _refresh(b: Bench, pages, root: str, run_id: str) -> dict:
    from sax_wasm_spark.plans.lineage import run_extraction_incremental  # noqa: PLC0415

    return run_extraction_incremental(
        b.spark, pages, root, b.base, num_shards=NUM_SHARDS, run_id=run_id
    )


def _pipeline(b: Bench, pages, root: str, previous: str | None, run_id: str) -> dict:
    from jobs.prepare_corpus_job import run_pipeline  # noqa: PLC0415

    return run_pipeline(
        b.spark, pages, root, num_shards=NUM_SHARDS, previous_path=previous, run_id=run_id
    )


def _job(b: Bench):
    """The workload's timed call: (pages, root, run_id) -> stats."""
    if b.workload == "extract_cc":
        return lambda pages, root, run_id: _extract(b, pages, root, run_id)
    return lambda pages, root, run_id: _refresh(b, pages, root, run_id)


def _check_stats(b: Bench, stats: dict) -> None:
    """extract_refresh must reuse exactly the unchanged pages."""
    if b.workload == "extract_refresh":
        f = b.facts
        unchanged = len(b.urls) - len(f["changed"]) - len(f["added"])
        if stats["n_reused"] != unchanged:
            b.gate.fail(f"refresh reused {stats['n_reused']} pages, {unchanged} unchanged")


def _check_pipeline(b: Bench, root: str, stats: dict) -> None:
    """The full refresh pipeline keeps exactly one page of every planted
    exact-duplicate cluster."""
    import pyarrow.dataset as ds  # noqa: PLC0415

    _check_stats(b, stats["extract"])
    kept = set(
        ds.dataset(os.path.join(root, "kept"), format="parquet")
        .to_table(columns=["url"])
        .column("url")
        .to_pylist()
    )
    for g in b.facts["exact_groups"]:
        n = sum(u in kept for u in g)
        if n != 1:
            b.gate.fail(f"exact-duplicate cluster kept {n} pages, want 1", len(g))
    b.info["near_clusters_collapsed"] = sum(
        sum(u in kept for u in g) == 1 for g in b.facts["near_groups"]
    )


def _prepare(b: Bench, pipeline: bool = False) -> None:
    """extract_refresh set-up: the base snapshot the refresh reads, built
    by the program from the base corpus (the full pipeline when the
    traced run also refreshes the dedup state)."""
    if b.workload != "extract_refresh":
        return
    b.base = b.path("base")
    t = time.perf_counter()
    if pipeline:
        _pipeline(b, b.pages("base_pages"), b.base, None, "base")
    else:
        _extract(b, b.pages("base_pages"), b.base, "base")
    b.info["base_build_s"] = round(time.perf_counter() - t, 3)


# ------------------------------------------------------------ untraced


def run_untraced(b: Bench) -> dict:
    b.make_inputs(SIZES[b.workload])
    b.mark("inputs")
    setup = b.set_up(3)
    b.mark("setup")
    _prepare(b)
    b.mark("prepare")
    job = _job(b)
    n = len(b.urls)
    pages = b.pages("pages")
    sampler = RssSampler()
    digest_prev: list = []

    def rep(k):
        root = b.path("out")
        wipe(root)
        gc.collect()  # no collector pause inside a timed block
        with sampler:
            with Stopwatch() as fresh:
                stats = job(pages, root, f"r{k}")
            with Stopwatch() as resume:
                res = _extract(b, pages, root, f"resume{k}")
        _check_stats(b, stats)
        if res["processed_shards"] != 0:
            b.gate.fail(f"resume re-processed {res['processed_shards']} shards")
        b.rows = b.check_extracted(root, digest_prev)
        return fresh, resume, du_bytes(os.path.join(root, "extracted"))

    # the first full pass is the warm-up: a new JVM pays several seconds
    # of one-off compilation in its first job of each kind
    warm = rep(0)
    b.mark("warm")
    reps, t0 = [], time.perf_counter()
    while len(reps) < 2 or time.perf_counter() - t0 < b.seconds:
        reps.append(rep(len(reps) + 1))
    b.mark("timed")
    b.finish_gate(b.rows)
    b.info["setup_s"] = _walls(setup)
    b.info["warm_pass_s"] = _walls(warm[:2])
    b.info["rep_s"] = _walls([r[0] for r in reps])
    b.info["resume_rep_s"] = _walls([r[1] for r in reps])
    return {
        "setup_s": (median([w.s for w in setup]) + warm[0].s + warm[1].s, "s"),
        "pages_per_s": (n / median([r[0].s for r in reps]), "1/s"),
        "resume_s": (median([r[1].s for r in reps]), "s"),
        "ok_frac": (1.0 - b.gate.failed_pages / max(b.attempted, 1), "ratio"),
        "worker_rss_mb": (sampler.peak_mb, "MB"),
        "out_bytes_per_page": (reps[-1][2] / n, "B"),
    }


def _scaling(b: Bench, pps_full: float, job) -> float:
    """Weak scaling: ``pps_full`` at local[nproc] over the whole corpus
    against nproc x the rate of the same job at local[1] over a seeded
    quarter of it, timed on its second pass like the full-corpus rate."""
    b.stop()
    b.start(1)
    b.warm_up()
    quarter = b.pages("quarter")
    root = b.path("quarter_out")
    sws = []
    for k in range(2):
        wipe(root)
        with Stopwatch() as sw:
            job(quarter, root, f"q{k}")
        sws.append(sw)
    b.stop()
    b.info["quarter_pages"] = b.n_quarter
    b.info["quarter_s"] = _walls(sws)
    return pps_full / (b.cores * b.n_quarter / sws[-1].s)


def _walls(sws: list) -> list:
    """(steal-corrected s, raw wall, steal share) per repetition."""
    return [(round(w.s, 3), round(w.wall, 3), round(w.steal_frac, 3)) for w in sws]


# ------------------------------------------------------------ traced


def _best_of(fn, docs, times: int = 3) -> float:
    best = float("inf")
    for _ in range(times):
        t = time.perf_counter()
        for d in docs:
            fn(d)
        best = min(best, time.perf_counter() - t)
    return best


def _kernel_probe(b: Bench) -> dict:
    """In-process kernel and operator timing on seeded page samples."""
    from sax_wasm_spark.kernel.collect import ALL_EVENTS  # noqa: PLC0415
    from sax_wasm_spark.kernel.fastsax import parse_doc_flat  # noqa: PLC0415
    from sax_wasm_spark.kernel.fastsax_np import parse_doc_flat_np, parse_doc_np  # noqa: PLC0415
    from sax_wasm_spark.operators.extract import EXTRACT_MASK, extract_bytes  # noqa: PLC0415

    urls = list(b.urls)
    random.Random(b.seed).shuffle(urls)
    docs, size = [], 0
    for u in urls:  # a seeded sample of about KERNEL_SAMPLE_MB
        docs.append(b.html_by_url[u])
        size += len(docs[-1])
        if size >= KERNEL_SAMPLE_MB * 1e6:
            break
    t_np = _best_of(lambda d: parse_doc_flat_np(d, EXTRACT_MASK), docs)
    t_ex = _best_of(extract_bytes, docs)
    t_all = _best_of(extract_bytes, list(b.html_by_url.values()), 1)
    fallback = sum(parse_doc_np(d, EXTRACT_MASK) is None for d in b.html_by_url.values())

    small = b.small_table.column("html").to_pylist()
    t_sm = _best_of(lambda d: parse_doc_flat(d, ALL_EVENTS), small, 1)
    n_events = sum(len(parse_doc_flat(d, ALL_EVENTS)) for d in small)
    return {
        "kernel.fastsax_np.mb_per_s": size / 1e6 / t_np,
        "kernel.fastsax.mb_per_s": sum(map(len, small)) / 1e6 / t_sm,
        "kernel.fallback_frac": fallback / len(b.urls),
        "kernel.events_per_page": n_events / len(small),
        "operators.extract.classify_share": (t_ex - t_np) / t_ex,
        "_t_extract_all": t_all,
        "_t_tokenize_small": t_sm,
    }


def _write_probe(b: Bench, pages) -> float:
    """MB/s of the partitioned lineage write of a cached extracted frame."""
    from sax_wasm_spark.operators.extract import extract_main_content  # noqa: PLC0415
    from sax_wasm_spark.plans.lineage import with_shard, write_extracted_partitioned  # noqa: PLC0415

    frame = extract_main_content(
        with_shard(pages, NUM_SHARDS), "html", "url", passthrough=("shard",)
    ).cache()
    frame.count()
    root = b.path("write_probe")
    wipe(root)
    t = time.perf_counter()
    write_extracted_partitioned(frame, root)
    wall = time.perf_counter() - t
    frame.unpersist()
    return du_bytes(root) / 1e6 / wall


def _check_events(b: Bench, tokenize_events) -> None:
    """On a seeded sample of small pages, the tokenizer's event rows, with
    positions, equal the FSM's rows."""
    from sax_wasm_spark.kernel.collect import ALL_EVENTS  # noqa: PLC0415

    small = b.small_table
    picks = sorted(random.Random(b.seed).sample(range(small.num_rows), 16))
    sample = small.take(picks)
    got: dict[str, list] = {}
    df = b.spark.createDataFrame(sample.to_pandas())
    for row in tokenize_events(df, positions=True).collect():
        got.setdefault(row["url"], []).append(tuple(row)[1:])
    for url, html in zip(sample.column("url").to_pylist(), sample.column("html").to_pylist()):
        want = [tuple(r) for r in gate.fsm_rows(html, ALL_EVENTS)]
        if sorted(got.get(url, []), key=lambda r: r[1]) != want:
            b.gate.fail(f"events: {url} differs from the FSM rows", 1)
    b.attempted += len(picks)


def _span_s(spans: list[dict]) -> float:
    return sum((s["end"] - s["start"] for s in spans), 0.0)


def run_traced(b: Bench) -> dict:
    import jobs.dedup_job as dedup_job  # noqa: PLC0415
    import sax_wasm_spark.plans.lineage as lineage  # noqa: PLC0415
    from sax_wasm_spark.operators.extract import extract_main_content  # noqa: PLC0415
    from sax_wasm_spark.operators.tokenize import tokenize_events  # noqa: PLC0415

    b.make_inputs(SIZES[b.workload])
    b.small_table = gen.make_small(b.seed, SMALL_PAGES)
    gen.write(b.small_table, b.path("small"))
    n = len(b.urls)
    refresh = b.workload == "extract_refresh"
    job = _job(b)
    root = b.path("out")

    # untraced reference for the tracing overhead
    b.set_up(1)
    _prepare(b, pipeline=True)
    for k in range(2):  # the first pass warms up, as in the untraced run
        wipe(root)
        with Stopwatch() as untraced:
            job(b.pages("pages"), root, f"untraced{k}")
    wipe(root)
    b.stop()

    # traced session: event log on, spans around every call
    b.set_up(1, event_log=True)
    job(b.pages("pages"), root, "warm")
    wipe(root)
    app_id = b.spark.sparkContext.applicationId
    tracer = Tracer(b.spark.sparkContext)
    undo = [
        tracer.wrap(lineage, "run_extraction_incremental"),
        tracer.wrap(lineage, "read_extracted"),
        tracer.wrap(dedup_job, "run_dedup_incremental"),
    ]
    pages = b.pages("pages")
    try:
        with tracer.span("job") as span, Stopwatch() as traced:
            stats = job(pages, root, "traced")
        if refresh:
            with tracer.span("jobs.prepare_corpus_job.run_pipeline") as pipe:
                pipe_stats = _pipeline(b, pages, b.path("pipeline"), b.base, "traced")
    finally:
        for u in undo:
            u()
    _check_stats(b, stats)
    b.finish_gate(b.check_extracted(root, []))
    if refresh:
        _check_pipeline(b, b.path("pipeline"), pipe_stats)
    with tracer.span("noop_extract") as noop:
        extract_main_content(pages).write.format("noop").mode("overwrite").save()
    noop_s = noop["end"] - noop["start"]
    with tracer.span("write_probe"):
        write_mb_s = _write_probe(b, pages)
    with tracer.span("noop_tokenize") as tok:
        tokenize_events(b.pages("small"), positions=True).write.format("noop").mode(
            "overwrite"
        ).save()
    _check_events(b, tokenize_events)
    b.stop()
    # a local[1] refresh pass costs as much as the whole refresh: measured
    # on extract_cc only, to keep the traced refresh run well inside its
    # time limit on a slow host
    scaling = 0.0 if refresh else _scaling(b, n / untraced.s, job)

    kp = _kernel_probe(b)
    log = EventLog(os.path.join(b.path("eventlog"), app_id))
    job_stats = log.task_stats(log.jobs_in(tracer.subtree(span["id"])))
    m = {k: v for k, v in kp.items() if not k.startswith("_")}
    m.update(
        {
            "operators.extract.overhead_ratio": noop_s * b.cores / kp["_t_extract_all"],
            "operators.tokenize.overhead_ratio": (tok["end"] - tok["start"])
            * b.cores
            / kp["_t_tokenize_small"],
            "plans.lineage.job_overhead_ratio": traced.wall / noop_s,
            "plans.lineage.write_mb_per_s": write_mb_s,
            "plans.lineage.shuffle_bytes_per_page": job_stats["shuffle_write"] / n,
            "session.task_p99_over_p50": job_stats["p99_over_p50"],
            "session.core_busy_frac": job_stats["run_ms"] / 1000 / (traced.wall * b.cores),
            "session.gc_frac": job_stats["gc_ms"] / max(job_stats["run_ms"], 1),
            "session.jobs_per_run": float(job_stats["n_jobs"]),
            "session.task_retries": float(job_stats["retries"]),
            "session.scaling_eff_1to4": scaling,
            "trace.overhead_ratio": traced.s / untraced.s,
        }
    )
    # layers only the refresh exercises; 0 on extract_cc (not run there)
    m.update(
        {
            "plans.lineage.refresh_s": traced.s if refresh else 0.0,
            "plans.lineage.reuse_frac": stats["n_reused"] / n if refresh else 0.0,
            "jobs.dedup_job.dedup_s": _span_s(tracer.find("jobs.dedup_job.run_dedup_incremental")),
            "jobs.dedup_job.sig_reuse_frac": (
                pipe_stats["dedup"]["n_sigs_reused"] / pipe_stats["dedup"]["n_docs"]
                if refresh
                else 0.0
            ),
            "jobs.prepare_corpus_job.self_s": tracer.self_time(pipe["id"]) if refresh else 0.0,
            "jobs.prepare_corpus_job.kept_frac": pipe_stats["n_filtered"] / n if refresh else 0.0,
        }
    )
    tracer.dump(b.path(f"trace-{b.workload}.json"))
    b.info["traced_s"], b.info["untraced_s"] = _walls([traced]), _walls([untraced])
    return {k: (m[k], unit) for k, unit in PER_LAYER_UNITS.items()}


PER_LAYER_UNITS = {
    "kernel.fastsax_np.mb_per_s": "MB/s",
    "kernel.fastsax.mb_per_s": "MB/s",
    "kernel.fallback_frac": "ratio",
    "kernel.events_per_page": "count",
    "operators.extract.classify_share": "ratio",
    "operators.extract.overhead_ratio": "ratio",
    "operators.tokenize.overhead_ratio": "ratio",
    "plans.lineage.job_overhead_ratio": "ratio",
    "plans.lineage.write_mb_per_s": "MB/s",
    "plans.lineage.shuffle_bytes_per_page": "B",
    "plans.lineage.refresh_s": "s",
    "plans.lineage.reuse_frac": "ratio",
    "jobs.dedup_job.dedup_s": "s",
    "jobs.dedup_job.sig_reuse_frac": "ratio",
    "jobs.prepare_corpus_job.self_s": "s",
    "jobs.prepare_corpus_job.kept_frac": "ratio",
    "session.task_p99_over_p50": "ratio",
    "session.core_busy_frac": "ratio",
    "session.gc_frac": "ratio",
    "session.jobs_per_run": "count",
    "session.task_retries": "count",
    "session.scaling_eff_1to4": "ratio",
    "trace.overhead_ratio": "ratio",
}
