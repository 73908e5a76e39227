#!/usr/bin/env python3
"""The repository benchmark: the production jobs, end to end and layer by layer.

Usage (from the repository root):

    python3 perfbench/run.py --workload geo_pipeline --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload text_clean --seed 1 --seconds 10 --trace 1
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 1

One run starts a Spark session at ``local[nproc]``, writes seeded
inputs, runs a short generic warm-up, then calls the job entry point:
a full run into a fresh output directory (for ``geo_pipeline`` followed
by a no-op resume over it), repeated until ``--seconds`` of measurement
have passed. Every call is checked for correctness. ``--trace 0``
prints the end-to-end metrics of BENCHMARK.json; ``--trace 1`` records
spans around the library's public functions, turns on the Spark event
log and the Python UDF profiler, and prints the per-layer metrics; the
traced ``geo_pipeline`` run also renders its own seeded pages with
``cli.run_render_many``. ``--workload all`` runs every workload in its
own process and, with ``--trace 1``, a traced run after each untraced
one plus the tracing overhead between the two.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import re
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402
import tracing  # noqa: E402

PAGES = 50_000  # geo_pipeline input pages
DOCS = 1_000  # text_clean input documents
RENDER_PAGES = 5_000  # pages of the traced run's render job
RENDER_ALGORITHMS = ("hillshade", "slope")  # 3x3 stencils
ZOOM = 8  # run_pipeline's and run_render_many's default tile zoom
STENCIL_HALO = 1  # a 3x3 stencil (hillshade, slope) reads one pixel of neighbours
TILE_BYTES = 256 * 256  # one uint8 DN per pixel
TEXT_STAGES = ("pii", "repetition", "line_dedup", "span_dedup",
               "decontaminate", "sample", "pack", "shard")
GEO_STAGES = ("points", "pip", "tiles")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def host_info() -> dict:
    import numpy
    import pyarrow
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    nproc = len(os.sched_getaffinity(0))
    return {
        "nproc": nproc,
        "mem_total_mb": mem_kb // 1024,
        "master": f"local[{nproc}]",
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "python": platform.python_version(),
    }


def driver_heap_mb(mem_total_mb: int) -> int:
    """A heap that fits the host: an eighth of RAM, between 1 and 2 GiB.
    The jobs' inputs are small, and a heap that fills up early keeps
    the peak RSS from depending on when the collector grows it."""
    return max(1024, min(2048, mem_total_mb // 8))


# ------------------------------ session --------------------------------

def start_session(work: str, host: dict, traced: bool):
    """The library's get_spark() with host-derived settings passed
    through ``extra_confs``; heap pre-touch is off for this process
    only, and all scratch space stays under ``work``."""
    os.environ["SPARK_GRAFT_PRETOUCH"] = "0"
    os.environ["SPARK_GRAFT_CPUS"] = str(host["nproc"])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python UDF workers import the library from the checkout
    # whatever the working directory is
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"

    from fujishadergpu_spark import session

    # get_spark() creates /dev/shm/spark-local for Spark's scratch space
    # and sets spark.local.dir to it; the benchmark writes nothing
    # outside its checkout, so the scratch space is ``local`` instead
    session._local_dirs = lambda: local
    heap = driver_heap_mb(host["mem_total_mb"])
    confs = {
        "spark.driver.memory": f"{heap}m",
        "spark.driver.extraJavaOptions": f"-Xms{heap}m -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if traced:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            # the zstd default needs the zstandard module
            "spark.eventLog.compress": "false",
            "spark.sql.pyspark.udf.profiler": "perf",
        })
    spark = session.get_spark(app_name="perfbench", master=host["master"], extra_confs=confs)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark, path: str) -> None:
    """Generic Spark work, run once before the job is timed: a
    partitioned parquet write and read-back, a join, a left-anti join,
    an aggregate and a grouped-map pandas UDF that imports the library
    in the Python workers. It takes the session's first-use costs (JIT
    of the SQL engine and of the codegen compiler, Python worker
    start-up) out of the timed job run."""
    import pandas as pd
    from pyspark.sql import functions as F

    def touch(pdf: pd.DataFrame) -> pd.DataFrame:
        import fujishadergpu_spark.operators.tile_kernels  # noqa: F401
        import fujishadergpu_spark.plans.clean_corpus  # noqa: F401

        return pdf.head(1)

    slots = spark.sparkContext.defaultParallelism
    df = spark.range(0, 4_000, 1, slots).select(
        "id", (F.col("id") % 8).alias("bucket"),
        F.concat(F.lit("w"), F.col("id").cast("string")).alias("s"),
    )
    # one task per slot, so every slot's Python worker starts here
    df.mapInPandas(lambda it: (touch(p) for p in it), df.schema).count()
    df.write.mode("overwrite").partitionBy("bucket").parquet(path)
    back = spark.read.parquet(path)
    counts = back.groupBy("bucket").agg(F.count("*").alias("n"))
    kept = back.join(counts, "bucket").join(counts.limit(3), "bucket", "left_anti")
    kept.select(*back.columns).groupBy("bucket").applyInPandas(touch, back.schema).count()


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for every process
    this run started to end."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway JVM exits on EOF
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while tracing.descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in tracing.descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    while tracing.descendants(os.getpid()):
        time.sleep(0.1)


# ------------------------------ workloads ------------------------------

class GeoPipeline:
    """cli.run_pipeline: geoparse -> cell index -> PIP join -> tiles."""

    name = "geo_pipeline"
    stages = GEO_STAGES
    rows = PAGES
    resume = True  # every full run is followed by a no-op resume
    renders = True  # the traced run also calls run_render_many

    def build_inputs(self, seed: int, root: str) -> dict:
        import pyarrow.parquet as pq

        data = {}
        for key, n in (("pages", PAGES), ("render_pages", RENDER_PAGES)):
            pages = inputs.make_pages(seed, n)
            path = os.path.join(root, key)
            # 8 row groups, so the pages scan may get several input splits
            os.makedirs(path, exist_ok=True)
            pq.write_table(pages, os.path.join(path, "part-00000.parquet"),
                           row_group_size=n // 8)
            data[key] = path
            data[f"_{key}"] = pages
        return data

    def prepare_reference(self, seed: int, data: dict) -> None:
        from fujishadergpu_spark.sources.polygons import polygon_rows

        pages = data.pop("_pages")
        urls = pages.column("url").to_pylist()
        _, lat, lon = inputs.page_points(pages)
        self.ref_pip = checks.rows_digest(checks.pip_reference(urls, lat, lon, polygon_rows()))
        self.ref_tiles = checks.tile_keys_reference(lat, lon, ZOOM, STENCIL_HALO)
        _, lat, lon = inputs.page_points(data.pop("_render_pages"))
        self.ref_render_tiles = checks.tile_keys_reference(lat, lon, ZOOM, STENCIL_HALO)
        self.expected = expected_for(self.name, PAGES, seed)
        self.expected_render = expected_for("geo_render", RENDER_PAGES, seed)

    def call(self, spark, data: dict, out: str) -> dict:
        from fujishadergpu_spark import cli

        return cli.run_pipeline(spark, data["pages"], out, ZOOM)

    def outputs(self, out: str, ck: checks.Checker) -> dict:
        pts = checks.read_stage(f"{out}/points", ["id", "url"])
        pip = checks.read_stage(f"{out}/pip", ["id", "polygon_id"])
        tiles = checks.read_stage(f"{out}/tiles", ["x", "y", "lit_pixels", "shade_sum"]).to_pydict()
        url_of = dict(zip(pts.column("id").to_pylist(), pts.column("url").to_pylist()))
        ck.check("points.rows", pts.num_rows == PAGES, f"{pts.num_rows} != {PAGES}")
        pip_digest = checks.rows_digest(
            (url_of.get(i), p) for i, p in zip(pip.column("id").to_pylist(),
                                               pip.column("polygon_id").to_pylist()))
        ck.check("pip.reference", pip_digest == self.ref_pip, "PIP rows differ from the NumPy ray cast")
        keys = set(zip(tiles["x"], tiles["y"]))
        ck.check("tiles.keys", keys == self.ref_tiles and len(keys) == len(tiles["x"]),
                 f"{len(keys ^ self.ref_tiles)} tile keys differ from the reference")
        ck.check("tiles.lit_range", all(0 <= v <= 65536 for v in tiles["lit_pixels"]))
        tile_digest = checks.rows_digest(zip(tiles["x"], tiles["y"], tiles["lit_pixels"]))
        shade = math.fsum(tiles["shade_sum"])
        exp = self.expected
        if exp:
            ck.check("pip.recorded", pip_digest == exp["pip"], "PIP digest differs from the recorded one")
            ck.check("tiles.recorded", tile_digest == exp["tiles"], "tile digest differs from the recorded one")
            ck.check("tiles.shade_sum", abs(shade - exp["shade_sum"]) <= 1e-6 * max(1.0, abs(exp["shade_sum"])),
                     f"{shade} vs {exp['shade_sum']} (rel tol 1e-6)")
        return {"pip": pip_digest, "tiles": tile_digest, "shade_sum": shade,
                "pip_rows": pip.num_rows, "tiles_rows": len(keys)}

    def render(self, spark, tracer, data: dict, out: str) -> dict:
        """One checked ``cli.run_render_many`` call over the render
        pages: per algorithm the z8 tile keys, 64 keys processed,
        65,536-byte DN payloads and a recorded DN digest."""
        from fujishadergpu_spark import cli

        ck = checks.Checker()
        t = time.perf_counter()
        try:
            with tracer.span("render"):
                summary = cli.run_render_many(spark, data["render_pages"], out,
                                              list(RENDER_ALGORITHMS), ZOOM)
        except Exception as e:  # counts as a failed call, like the timed ones
            traceback.print_exc()
            ck.check("call", False, f"{type(e).__name__}: {e}")
            summary = None
        secs = time.perf_counter() - t
        tiles, rows = 0, []
        if summary is not None:
            for a in RENDER_ALGORITHMS:
                n = summary[a]["keys_processed"]
                ck.check(f"{a}.keys", n == 64, f"{a}: {n} keys, expected 64")
                got = checks.read_stage(f"{out}/tiles_{a}_z{ZOOM}", ["z", "x", "y", "dn"]).to_pydict()
                keys = set(zip(got["x"], got["y"]))
                ck.check(f"{a}.tile_keys", keys == self.ref_render_tiles and len(keys) == len(got["x"]),
                         f"{len(keys ^ self.ref_render_tiles)} tile keys differ from the reference")
                ck.check(f"{a}.zoom", set(got["z"]) == {ZOOM})
                bad = sum(1 for d in got["dn"] if len(d) != TILE_BYTES)
                ck.check(f"{a}.payload_bytes", bad == 0, f"{bad} payloads are not {TILE_BYTES} bytes")
                tiles += len(got["x"])
                rows += [(a, x, y, d) for x, y, d in zip(got["x"], got["y"], got["dn"])]
        digest = checks.rows_digest(rows)
        exp = self.expected_render
        if exp and summary is not None:
            ck.check("dn.recorded", digest == exp["dn"], "DN digest differs from the recorded one")
        return {"checks": {"render": ck.results}, "digest": {"render": digest},
                "render_s": secs, "tiles": tiles}


class TextClean:
    """plans.clean_corpus.run_clean_corpus with the Gopher n-gram rules."""

    name = "text_clean"
    stages = TEXT_STAGES
    rows = DOCS
    resume = False  # a resume would not fit in one run's time budget
    renders = False

    def build_inputs(self, seed: int, root: str) -> dict:
        docs, bench = inputs.make_corpus(seed, DOCS)
        d = os.path.join(root, "docs")
        b = os.path.join(root, "eval")
        inputs.write_single_file(docs, d)
        inputs.write_single_file(bench, b)
        return {"docs": d, "eval": b}

    def prepare_reference(self, seed: int, data: dict) -> None:
        self.expected = expected_for(self.name, DOCS, seed)

    def call(self, spark, data: dict, out: str) -> dict:
        from fujishadergpu_spark.plans import clean_corpus

        return clean_corpus.run_clean_corpus(
            spark, data["docs"], out, benchmark_path=data["eval"],
            ngram_rules=True, default_rate=0.9,
        )

    def outputs(self, out: str, ck: checks.Checker) -> dict:
        import hashlib

        import pyarrow.compute as pc

        funnel = [checks.stage_rows(f"{out}/{st}") for st in TEXT_STAGES]
        ck.check("pii.total", funnel[0] == DOCS, f"pii kept {funnel[0]} of {DOCS}")
        chars = [self.chars(f"{out}/{st}") for st in TEXT_STAGES[:6]]
        for i, st in enumerate(TEXT_STAGES[1:6], start=1):
            # filters drop documents, line and span dedup cut text
            ck.check(f"{st}.removes", funnel[i] < funnel[i - 1] or chars[i] < chars[i - 1],
                     f"{st} kept {funnel[i]} of {funnel[i - 1]} docs, {chars[i]} of {chars[i - 1]} chars")
        ck.check("pack.rows", funnel[6] == funnel[5], f"pack planned {funnel[6]} of {funnel[5]} docs")
        ck.check("shard.rows", funnel[7] == funnel[5], f"shard placed {funnel[7]} of {funnel[5]} docs")
        pii = checks.read_stage(f"{out}/pii", ["text"]).column("text")
        left = pc.sum(pc.match_substring(pii, "@example.com")).as_py() or 0
        ck.check("pii.scrubbed", left == 0, f"{left} docs still carry an e-mail address")
        kept = checks.read_stage(f"{out}/sample", ["doc_id", "text"]).to_pydict()
        rows = [("sample", i, hashlib.sha256(t.encode()).hexdigest())
                for i, t in zip(kept["doc_id"], kept["text"])]
        for st in ("pack", "shard"):
            t = checks.read_stage(f"{out}/{st}")
            rows += [(st,) + tuple(r.values()) for r in t.to_pylist()]
        digest = checks.rows_digest(rows)
        exp = self.expected
        if exp:
            ck.check("funnel.recorded", funnel == exp["funnel"], f"{funnel} vs {exp['funnel']}")
            ck.check("output.recorded", digest == exp["output"], "output digest differs from the recorded one")
        return {"funnel": funnel, "chars": chars, "output": digest}

    @staticmethod
    def chars(path: str) -> int:
        import pyarrow.compute as pc

        return pc.sum(pc.utf8_length(checks.read_stage(path, ["text"]).column("text"))).as_py()


WORKLOADS = {w.name: w for w in (GeoPipeline, TextClean)}


def expected_for(job: str, size: int, seed: int) -> dict | None:
    """Digests recorded for ``job`` at this input size and seed."""
    with open(os.path.join(HERE, "expected.json")) as f:
        rec = json.load(f)
    return rec.get(job, {}).get(str(size), {}).get(str(seed))


# ------------------------------ one run --------------------------------

def run_workload(args) -> dict:
    spec = load_spec()
    wl = WORKLOADS[args.workload]()
    traced = bool(args.trace)
    host = host_info()
    work = os.path.join(ROOT, ".perfbench_work", f"{wl.name}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log(f"host {json.dumps(host)}")

    with tracing.RssSampler() as rss:
        t0 = time.perf_counter()
        spark = start_session(work, host, traced)
        session_s = time.perf_counter() - t0
        tracer = tracing.Tracer(spark if traced else None)
        try:
            t = time.perf_counter()
            data = wl.build_inputs(args.seed, os.path.join(work, "inputs"))
            build_s = time.perf_counter() - t
            t = time.perf_counter()
            warm_up(spark, os.path.join(work, "warmup"))
            warm_s = time.perf_counter() - t
            if traced:
                spark.profile.clear()  # drop the warm-up UDF's profile
            setup_s = session_s + build_s + warm_s
            wl.prepare_reference(args.seed, data)
            if traced:
                install_wrappers(tracer)
            runs = measure(args.seconds, wl, spark, tracer, data, work)
            render = None
            if traced and wl.renders:
                render = wl.render(spark, tracer, data, os.path.join(work, "render"))
            udf = tracing.udf_python_seconds(spark) if traced else {}
        finally:
            tracer.restore()
            stop_session(spark)

    fulls = [r["full_s"] for r in runs]
    resumes = [r["resume_s"] for r in runs if "resume_s" in r]
    calls = runs + ([render] if render else [])
    attempted = sum(len(r["checks"]) for r in calls)
    failed = sum(1 for r in calls for res in r["checks"].values() if not all(ok for _, ok, _ in res))
    log(f"session start {session_s:.3f} s; input build {build_s:.3f} s; warm-up {warm_s:.3f} s")
    log(f"full runs (s): {fulls}")
    if resumes:
        log(f"no-op resumes (s): {resumes}")
    if render:
        log(f"render (s): {render['render_s']:.3f}; tiles {render['tiles']}")
    for r in calls:
        for phase, res in r["checks"].items():
            for name, ok, detail in res:
                log(f"check {phase}.{name}: {'ok' if ok else 'FAILED ' + detail}")
        log(f"digest {json.dumps(r['digest'])}")
    log(f"iterations {len(runs)}; ops_failed_ratio {failed / attempted:.4f} ({failed}/{attempted})")
    if traced:
        metrics = per_layer(spec, wl, tracer, os.path.join(work, "eventlog"), host, session_s, udf, render)
        dump_trace(wl.name, args.seed, tracer)
    else:
        full_s = statistics.median(fulls)
        metrics = {
            "setup_s": setup_s,
            "full_s": full_s,
            "rows_per_s": wl.rows / full_s,
            "peak_rss_mb": rss.peak_mb,
        }
    shutil.rmtree(work, ignore_errors=True)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def measure(seconds, wl, spark, tracer, data, work) -> list[dict]:
    """Job iterations until ``seconds`` have passed: a full run into a
    fresh directory, checked, then (where the workload has one) a
    no-op resume over it, checked."""
    runs = []
    m0 = time.perf_counter()
    while not runs or time.perf_counter() - m0 < seconds:
        out = os.path.join(work, f"out{len(runs)}")
        run = {"checks": {}, "digest": None}
        ck = checks.Checker()
        run["full_s"], summary = timed_call(tracer, "full", wl, spark, data, out, ck)
        files = None
        if ck.ok:
            for st in wl.stages:
                n = summary.get(st, {}).get("keys_processed", 0)
                want = 1 if st == "shard" else 64  # shard keys are shard ids
                ck.check(f"{st}.keys", n == want, f"{st}: {n} keys, expected {want}")
            try:
                run["digest"] = wl.outputs(out, ck)
                files = checks.files_digest(out, wl.stages)
            except Exception as e:  # missing or unreadable output fails the call
                traceback.print_exc()
                ck.check("outputs", False, f"{type(e).__name__}: {e}")
        run["checks"]["full"] = ck.results
        if wl.resume:
            ck = checks.Checker()
            run["resume_s"], summary = timed_call(tracer, "resume", wl, spark, data, out, ck)
            if ck.ok:
                for st in wl.stages:
                    n = summary.get(st, {}).get("keys_processed")
                    ck.check(f"{st}.keys", n == 0, f"{st}: {n} keys, expected 0")
                ck.check("unchanged", checks.files_digest(out, wl.stages) == files,
                         "output files changed on a no-op resume")
            run["checks"]["resume"] = ck.results
        runs.append(run)
        shutil.rmtree(out, ignore_errors=True)
    return runs


def timed_call(tracer, phase, wl, spark, data, out, ck):
    """(seconds, summary) of one job call; a call that raises fails ``ck``."""
    t = time.perf_counter()
    try:
        with tracer.span(phase):
            summary = wl.call(spark, data, out)
    except Exception as e:  # the run goes on; the failure counts in ops_failed_ratio
        traceback.print_exc()
        ck.check("call", False, f"{type(e).__name__}: {e}")
        summary = {}
    return time.perf_counter() - t, summary


def install_wrappers(tracer: tracing.Tracer) -> None:
    """Spans around the job entry points, every lineage stage and the
    PIP index build, installed in the module namespaces the jobs
    call them from."""
    from fujishadergpu_spark import cli
    from fujishadergpu_spark.operators import pip_join as pj
    from fujishadergpu_spark.plans import clean_corpus

    tracer.wrap(cli, "run_pipeline", "job.run_pipeline")
    tracer.wrap(cli, "run_render_many", "job.run_render_many")
    tracer.wrap(clean_corpus, "run_clean_corpus", "job.run_clean_corpus")
    for module in (cli, clean_corpus):
        stage_span(tracer, module)
    orig = cli.pip_join

    def pip_join(points, polygons, *a, **k):
        if k.get("index") is None and not a:
            with tracer.span("pip_join.index"):
                k["index"] = pj.PipIndex(polygons)
        return orig(points, polygons, *a, **k)

    tracer.replace(cli, "pip_join", pip_join)


def stage_span(tracer: tracing.Tracer, module) -> None:
    """A ``lineage.<stage>`` span around every ``run_stage_idempotent``
    call made from ``module``, holding the call's summary."""
    orig = module.run_stage_idempotent

    def run_stage_idempotent(spark, df, key_col, out_path, lineage, stage, *a, **k):
        with tracer.span(f"lineage.{stage}") as rec:
            rec["result"] = orig(spark, df, key_col, out_path, lineage, stage, *a, **k)
            return rec["result"]

    tracer.replace(module, "run_stage_idempotent", run_stage_idempotent)


# ------------------------------ per layer ------------------------------

def per_layer(spec, wl, tracer, log_dir, host, session_s, udf, render) -> dict:
    log_ = tracing.EventLog(tracing.read_events(tracing.event_log_files(log_dir)))
    slots = host["nproc"]
    full = tracer.find("full")[0]
    resume = (tracer.find("resume") or [None])[0]
    m: dict[str, float] = {s["name"]: 0.0 for s in spec["per_layer"]}

    def lspan(stage, within):
        found = tracer.find(f"lineage.{stage}", within)
        return found[0] if found else None

    m["session.start_s"] = session_s
    m["trace.full_s"] = tracer.duration(full)
    m["trace.resume_s"] = tracer.duration(resume) if resume else 0.0
    first = lspan(wl.stages[0], full)
    scans = sorted(tracing.scan_stages(log_, first), key=lambda s: s["id"]) if first else []
    m["sources.input_splits"] = scans[0]["n_tasks"] if scans else 0
    m["sources.scan_s"] = sum(t["run"] for s in scans for t in s["tasks"])
    m["spark.single_task_stage_s"] = tracing.single_task_stage_s(log_, full)
    for key, span in (("spark", full), ("spark.resume", resume)):
        if span is None:
            continue
        for k, v in tracing.spark_metrics(log_, span, slots).items():
            m[f"{key}.{k}"] = v

    keys_full = keys_resume = 0
    for st in wl.stages:
        sp = lspan(st, full)
        rs = lspan(st, resume) if resume else None
        if sp is None:
            continue
        w = tracing.write_seconds(log_, sp)
        m[f"lineage.{st}.write_s"] = w
        m[f"lineage.{st}.readback_s"] = max(0.0, tracer.duration(sp) - w)
        keys_full += (sp["result"] or {}).get("keys_processed", 0)
        if rs is not None:
            keys_resume += (rs["result"] or {}).get("keys_processed", 0)
        if wl.name == "text_clean":
            m[f"clean_corpus.{st}_s"] = tracer.duration(sp)
            m[f"clean_corpus.{st}_rows_out"] = tracing.rows_written(log_, sp)
    m["lineage.keys_written"] = keys_full
    if resume is not None:
        m["lineage.keys_skipped"] = keys_full - keys_resume
        rows_in, rows_out = tracing.anti_join_rows(log_, resume)
        m["lineage.resume_recomputed_rows"] = rows_in
        m["lineage.resume_waste_ratio"] = (rows_in - rows_out) / rows_in if rows_in else 0.0

    pts, pip, tiles = (lspan(st, full) for st in GEO_STAGES)
    if None not in (pts, pip, tiles):  # a geo_pipeline run whose stages all ran
        m["functions.geoparse_s"] = sum(
            t["run"] for s in tracing.scan_stages(log_, pts) for t in s["tasks"])
        idx = tracer.find("pip_join.index", full)
        m["pip_join.index_s"] = tracer.duration(idx[0]) if idx else 0.0
        m["pip_join.stage_s"] = tracer.duration(pip)
        cand = tracing.join_rows(log_, pip, "cell_id")
        match = tracing.rows_written(log_, pip)
        m["pip_join.candidate_rows"] = cand
        m["pip_join.match_rows"] = match
        m["pip_join.match_ratio"] = match / cand if cand else 0.0
        gm = tracing.grouped_map_stages(log_, tiles)
        m["tile_kernels.stage_s"] = tracing.stage_wall(gm)
        n, p50, mx = tracing.task_quantiles(gm)
        m["tile_kernels.tasks"] = n
        m["tile_kernels.task_p50_s"] = p50
        m["tile_kernels.task_max_s"] = mx
        halo_rows = tracing.node_rows(log_, tiles, "Generate")
        m["tile_kernels.halo_rows_per_point"] = halo_rows / PAGES
    if render is not None:
        m.update(render_layers(log_, tracer, render))
    for name, secs in udf.items():
        key = "udf." + re.sub(r"[^A-Za-z0-9_.-]", "", name) + ".python_s"
        if key in m:
            m[key] += secs
        else:
            m["udf.other.python_s"] = m.get("udf.other.python_s", 0.0) + secs
            log(f"udf {name} {secs:.3f} s (counted under udf.other)")
    m["udf.total.python_s"] = sum(udf.values())
    return m


def render_layers(log_, tracer, render: dict) -> dict:
    """The render job's layers. Per algorithm the kernel output is
    persisted; the percentile pre-pass job first computes it (the
    grouped-map stages), then aggregates a quarter of the tiles' pixels
    (the stages with the percentile aggregate) and writes the stats
    file. The encode and the DN write run in the lineage stage over the
    persisted kernel output."""
    span = tracer.find("render")[0]
    writes = sum(tracing.write_seconds(log_, s) for s in tracer.find_prefix("lineage.render_", span))
    prepass = [s for s in log_.stages_for(span) if "ObjectHashAggregate" in s["scopes"]]
    return {
        "render.full_s": render["render_s"],
        "render.tiles_per_s": render["tiles"] / render["render_s"],
        "render.kernel_s": tracing.stage_wall(tracing.grouped_map_stages(log_, span)),
        # the stats-file writes are the render span's writes outside its stages
        "render.stats_s": tracing.stage_wall(prepass) + tracing.write_seconds(log_, span) - writes,
        "render.encode_write_s": writes,
    }


def dump_trace(workload: str, seed: int, tracer: tracing.Tracer) -> None:
    """Spans of the traced run, kept next to the other run outputs."""
    d = os.path.join(ROOT, ".perfbench_work", "traces")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"{workload}-seed{seed}.json"), "w") as f:
        json.dump(tracer.spans, f, indent=1, default=str)


# ------------------------------ output ---------------------------------

def log(msg: str) -> None:
    print(msg, flush=True)


def emit(spec: dict, result: dict, traced: bool) -> None:
    names = spec["per_layer"] if traced else spec["end_to_end"]
    metrics = {}
    for s in names:
        v = float(result["metrics"][s["name"]])
        metrics[s["name"]] = {"value": v, "unit": s["unit"]}
        log(f"metric {s['name']} = {v:.6g} {s['unit']}")
    out = {k: result[k] for k in ("correct", "attempted", "failed")}
    out["metrics"] = metrics
    print(json.dumps(out), flush=True)


def run_all(args) -> dict:
    """Every workload in its own process; with --trace 1 a traced run
    follows each untraced one and the overhead between them is shown."""
    spec = load_spec()
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in spec["workloads"]:
        modes = (0, 1) if args.trace else (0,)
        res = {}
        for t in modes:
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w["name"],
                   "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(t)]
            p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            lines = p.stdout.strip().splitlines()
            for line in lines[:-1]:
                if line.startswith(("metric", "check", "iterations", "udf", "full runs", "no-op", "render")):
                    log(f"[{w['name']} trace={t}] {line}")
            if p.returncode != 0 or not lines:
                raise SystemExit(f"{w['name']} trace={t} failed with code {p.returncode}")
            res[t] = json.loads(lines[-1])
            total["correct"] &= res[t]["correct"]
            total["attempted"] += res[t]["attempted"]
            total["failed"] += res[t]["failed"]
            for k, v in res[t]["metrics"].items():
                total["metrics"][f"{w['name']}.{k}"] = v
        if args.trace:
            base = res[0]["metrics"]["full_s"]["value"]
            traced_v = res[1]["metrics"]["trace.full_s"]["value"]
            log(f"[{w['name']}] tracing overhead on full_s: "
                f"{traced_v:.3f} s traced vs {base:.3f} s untraced ({traced_v / base - 1:+.1%})")
        log(f"[{w['name']}] ops_failed_ratio "
            f"{res[0]['failed'] / res[0]['attempted']:.4f}")
    return total


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "fujishadergpu_spark")):
        print(f"perfbench: no fujishadergpu_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload == "all":
        total = run_all(args)
        print(json.dumps(total), flush=True)
        return 0
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {sorted(WORKLOADS)} or 'all'", file=sys.stderr)
        return 2
    emit(load_spec(), run_workload(args), bool(args.trace))
    return 0


if __name__ == "__main__":
    sys.exit(main())
