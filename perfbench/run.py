"""End-to-end benchmark of the oscar_spark index build and BM25 serving.

    python3 perfbench/run.py --workload build|serve --seed N \\
        --seconds S --trace 0|1

Run from the root of a source checkout.  The engine runs in one process
on `local[nproc]` Spark, driven by one closed-loop client.  The seed
drives the generated pages (`generate_pages`) and the query draw.

Workloads (sizes in BENCHMARK.json):
  build  full default builds (varint codec, no positions) of a pages
         table written as several parquet files; nothing is served.
         The traced run then appends one crawl drop with
         `build_index(resume=True)`, untimed.
  serve  whole passes of the seeded 100-query mix (FIXTURES.md section
         3.1 strata) on a positional index, after one untimed pass that
         warms the block cache and the JVM; nothing is built.

The last stdout line is one JSON object: correct, attempted, failed and
metrics.  `--trace 0` reports the end-to-end metrics; `--trace 1`
reports the per-layer metrics and the tracing overhead: on serve it
replays the window under the tracer (perfbench/tracing.py), on build it
reads the Spark status store for the window's own builds.  Every answer is
checked outside the timed region: query results against `OracleIndex`
(ids, and scores at SCORE_ROUND), and each index with `check_index`.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time

import numpy as np

from tracing import now_ms

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

BASE_PAGES = 3000      # pages of the base table
BASE_FILES = 4         # parquet files it is written as
SETUP_REPS = 5         # input writes on build; setup_s is their median
ENGINE_STARTS = 3      # engine starts on serve; setup_s adds their median
MIN_BUILDS = 3         # timed builds in a build window, at the least
# FIXTURES.md section 3.1: 40 single (20 mid, 10 head, 10 rare), 30 AND,
# 10 OR, 10 NOT, 5 XOR, 5 quoted
MIX = {"single": 40, "and": 30, "or": 10, "not": 10, "xor": 5, "quoted": 5}
# strata the engine answers on the driver-local path at these sizes
LOCAL_STRATA = ("single", "and", "or")
BUILD_TABLES = ("postings", "terms", "terms_rev", "terms_ngram",
                "doc_stats", "tokens")
BUILD_STAGES = ("tokens", "doc_stats", "postings", "terms")
# the Spark columns kept for the append path's (smaller) stages
APPEND_FIELDS = ("jobs", "task_s", "slot_use", "shuffle_write_bytes")


# ---------------------------------------------------------------- inputs

def draw_queries(oracle, rng: np.random.RandomState) -> list[tuple[str, str]]:
    """(stratum, query) pairs, stratified by document frequency like
    fixtures/queries.py but drawn from the workload seed."""
    by_df = sorted(oracle.postings, key=lambda t: (-oracle.df(t), t))
    n = len(by_df)
    head = by_df[:max(5, n // 50)]
    mid = by_df[n // 10: n // 2] or by_df
    rare = [t for t in by_df if oracle.df(t) == 1] or by_df[-10:]

    def pick(pool, k):
        return [pool[i] for i in rng.randint(0, len(pool), size=k)]

    ns = MIX["single"]
    out = [("single", t) for t in
           pick(mid, ns // 2) + pick(head, ns // 4) + pick(rare, ns // 4)]
    out += [("and", f"{a} {b}") for a, b in
            zip(pick(mid + head, MIX["and"]), pick(mid, MIX["and"]))]
    out += [("or", f"{a} + {b}") for a, b in
            zip(pick(mid, MIX["or"]), pick(rare, MIX["or"]))]
    out += [("not", f"{a} - {b}") for a, b in
            zip(pick(head, MIX["not"]), pick(mid, MIX["not"]))]
    out += [("xor", f"{a} ^ {b}") for a, b in
            zip(pick(mid, MIX["xor"]), pick(mid, MIX["xor"]))]
    out += [("quoted", f'"{a} {b}"') for a, b in
            zip(pick(mid, MIX["quoted"]), pick(mid, MIX["quoted"]))]
    return out


def interleave(mix: list[tuple[str, str]],
               rng: np.random.RandomState) -> list[str]:
    """The mix in a seeded order that spreads each stratum evenly
    through a pass."""
    keyed = []
    for stratum in MIX:
        qs = [q for s, q in mix if s == stratum]
        for j, i in enumerate(rng.permutation(len(qs))):
            keyed.append(((j + rng.uniform()) / len(qs), qs[i]))
    return [q for _, q in sorted(keyed)]


def write_pages(pdf, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq
    pdf = pdf.copy()
    # Spark's parquet reader rejects TIMESTAMP(NANOS)
    pdf["warc_ts"] = pdf["warc_ts"].astype("datetime64[us]")
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)


class Inputs:
    """The seeded pages, written as BASE_FILES base files plus one drop."""

    def __init__(self, seed: int, n_base: int, n_drop: int, work: str):
        self.seed, self.n_base, self.n_drop = seed, n_base, n_drop
        self.dir = os.path.join(work, "pages")

    def write(self) -> None:
        """Generate the pages and write them out afresh."""
        from oscar_spark.fixtures.pages import generate_pages
        self.pdf = generate_pages(self.n_base + self.n_drop, seed=self.seed)
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        bounds = np.linspace(0, self.n_base, BASE_FILES + 1).astype(int)
        self.base_files = []
        for i, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
            p = os.path.join(self.dir, f"base-{i:03d}.parquet")
            write_pages(self.pdf.iloc[lo:hi], p)
            self.base_files.append(p)
        self.drop_file = os.path.join(self.dir, "drop-000.parquet")
        write_pages(self.pdf.iloc[self.n_base:], self.drop_file)

    def base_bytes(self) -> int:
        return sum(os.path.getsize(p) for p in self.base_files)


def oracle_for(spark, index_dir: str, pdf):
    """OracleIndex over `pdf`, keyed by the index's own doc ids."""
    from oscar_spark.oracle.engine import OracleIndex
    from oscar_spark.sources.tables import IndexStore
    ids = {r["url"]: int(r["doc_id"]) for r in
           IndexStore(index_dir).read(spark, "doc_stats")
           .select("url", "doc_id").collect()}
    return OracleIndex([(ids[u], t) for u, t in zip(pdf["url"], pdf["text"])])


# ------------------------------------------------------------- checking

class Tally:
    """Operations attempted and failed: an oracle mismatch, an exception
    or a failed check_index each count as one failure."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.notes) < 10:
                self.notes.append(what)

    @property
    def error_rate(self) -> float:
        return self.failed / max(self.attempted, 1)


def same_answer(got, expected) -> bool:
    from oscar_spark.config import SCORE_ROUND
    return ([d for d, _ in got] == [d for d, _ in expected]
            and all(round(g, SCORE_ROUND) == round(e, SCORE_ROUND)
                    for (_, g), (_, e) in zip(got, expected)))


def check_store(spark, index_dir: str, tally: Tally) -> None:
    from oscar_spark.build.check import check_index
    res = check_index(spark, index_dir)
    bad = [k for k, v in res["checks"].items() if not v["ok"]]
    tally.record(res["ok"], f"check_index {index_dir}: {bad}")


# ------------------------------------------------------------- measuring

def dir_bytes_files(path: str) -> tuple[int, int]:
    size = files = 0
    for base, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(base, n))
            files += 1
    return size, files


def store_metrics(index_dir: str) -> dict:
    from oscar_spark.sources.tables import IndexStore
    out = {}
    for t in BUILD_TABLES:
        b, f = dir_bytes_files(os.path.join(index_dir, t))
        out[f"store.{t}.bytes"] = b
        out[f"store.{t}.files"] = f
    out["store.segments"] = len(IndexStore(index_dir).segments("postings"))
    return out


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver Python process plus the JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def p90(values: list[float]) -> float:
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[8]


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - T0:6.1f}s] {msg}", file=sys.stderr,
          flush=True)


def timed(fn, *a, **kw):
    t0 = time.perf_counter()
    out = fn(*a, **kw)
    return out, time.perf_counter() - t0


# ------------------------------------------------------------- workloads

def run_build(spark, args, work: str, tally: Tally) -> dict:
    from oscar_spark.build.indexer import build_index

    # the crawl drop is a sixth of the base
    inputs = Inputs(args.seed, args.pages, args.pages // 6, work)

    def new_dir(tag):
        d = os.path.join(work, tag)
        shutil.rmtree(d, ignore_errors=True)
        return d

    def build(d):
        res = build_index(spark, pages, d)
        tally.record(res.n_docs == inputs.n_base,
                     f"build n_docs {res.n_docs} != {inputs.n_base}")
        return res

    # set-up: generate and write the input, repeated
    setup = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        inputs.write()
        setup.append(time.perf_counter() - t0)
    pages = spark.read.parquet(*inputs.base_files)
    # untimed warm-up build of one base file: starts the Python workers
    # and pays the cold JVM's first-use compilation, which a standing
    # cluster has paid; the first timed build still runs slower, so the
    # window holds MIN_BUILDS builds or more
    build_index(spark, spark.read.parquet(inputs.base_files[0]),
                new_dir("warm"))
    shutil.rmtree(os.path.join(work, "warm"), ignore_errors=True)
    log(f"set-up {[round(x, 3) for x in setup]}, warm-up build done")

    def window(seconds):
        lat, results, t0 = [], [], time.perf_counter()
        while len(lat) < MIN_BUILDS or time.perf_counter() - t0 < seconds:
            d = new_dir(f"idx{len(lat) % 2}")
            start = now_ms()
            res, dt = timed(build, d)
            results.append((res, start, now_ms(), d))
            lat.append(dt)
        return lat, results, time.perf_counter() - t0

    lat, results, wall = window(args.seconds)
    log(f"window: {len(lat)} builds in {wall:.2f}s, "
        f"p50 {1e3 * statistics.median(lat):.0f} ms")
    last_dir = results[-1][3]
    metrics = {
        "setup_s": statistics.median(setup),
        "p50_ms": 1e3 * statistics.median(lat),
        "p90_ms": 1e3 * p90(lat),
        "rate_per_s": inputs.n_base * len(lat) / sum(lat),
        "index_bytes_per_input_byte":
            dir_bytes_files(last_dir)[0] / inputs.base_bytes(),
    }
    if not args.trace:
        check_build(spark, last_dir, inputs.pdf.iloc[:inputs.n_base],
                    args.seed, tally)
        log("checked")
        metrics["peak_rss_mb"] = peak_rss_mb(spark)
        return metrics

    from tracing import JobLog
    jl = JobLog(spark)
    # build tracing installs nothing: it reads the status store after the
    # window, so the window's own builds are the traced ones
    jl.load(results[0][1], results[-1][2])
    layers = {"trace.overhead_pct": 0.0, "p50_ms": metrics["p50_ms"],
              "build.wall_s": statistics.median(lat)}
    layers.update(stage_layer_metrics(jl, "build", results))
    layers.update(store_metrics(last_dir))

    # untimed: append the crawl drop onto the last build, then check it
    grown = spark.read.parquet(*inputs.base_files, inputs.drop_file)
    start = now_ms()
    res = build_index(spark, grown, last_dir, resume=True)
    end = now_ms()
    appended = (res.resumed_stages or [""])[0].startswith("append:")
    tally.record(appended and res.n_docs == inputs.n_base + inputs.n_drop,
                 f"append {res.resumed_stages} n_docs {res.n_docs}")
    jl.load(start, end)
    layers.update(stage_layer_metrics(
        jl, "append", [(res, start, end, last_dir)], fields=APPEND_FIELDS))
    log("drop appended")
    check_build(spark, last_dir, inputs.pdf, args.seed, tally)
    log("checked")
    return layers


def check_build(spark, index_dir: str, pdf, seed: int, tally: Tally) -> None:
    """A built index against the oracle over the pages it holds: corpus
    stats, every term's df, and a sample of local-path queries."""
    from oscar_spark.serve.executor import SearchEngine
    from oscar_spark.sources.tables import IndexStore
    oracle = oracle_for(spark, index_dir, pdf)
    dfs = {r["term"]: int(r["df"]) for r in
           IndexStore(index_dir).read(spark, "terms")
           .select("term", "df").collect()}
    want = {t: len(p) for t, p in oracle.postings.items()}
    tally.record(dfs == want, "terms df differs from the oracle")
    eng = SearchEngine(spark, index_dir)
    tally.record(eng.n_docs == oracle.n_docs
                 and abs(eng.avgdl - oracle.avgdl) < 1e-9,
                 f"n_docs/avgdl {eng.n_docs}/{eng.avgdl}")
    sample = [q for s, q in draw_queries(oracle, np.random.RandomState(seed))
              if s == "single"][:3]
    for q in sample:
        tally.record(same_answer(eng.search(q, k=10), oracle.search(q, k=10)),
                     f"query {q!r}")
    check_store(spark, index_dir, tally)


def stage_layer_metrics(jl, prefix: str, runs: list,
                        fields: tuple = None) -> dict:
    """Per build stage: seconds from BuildResult.stage_secs plus the
    Spark metrics of the jobs inside the stage, averaged over runs."""
    from tracing import STAGE_FIELDS, stage_spans
    fields = fields or STAGE_FIELDS
    acc: dict[str, list] = {}
    for res, start, end, _ in runs:
        secs = getattr(res, "stage_secs", None)
        if not secs:
            print(f"unmeasured: {prefix} stages (BuildResult.stage_secs "
                  "missing)")
            return {}
        spans = stage_spans(secs, end)
        # every job of the call must fall inside one of its stage spans
        whole = jl.count_jobs(start, end)
        staged = sum(jl.count_jobs(s, e) for _, s, e in spans)
        print(f"job attribution: {prefix} call {whole} jobs, "
              f"stage spans {staged} jobs")
        acc.setdefault(f"{prefix}.jobs", []).append(whole)
        for stage, s, e in spans:
            if stage.removesuffix("_append") not in BUILD_STAGES:
                continue
            sm = jl.stage_metrics(s, e)
            acc.setdefault(f"{prefix}.{stage}_s", []).append((e - s) / 1e3)
            for f in fields:
                acc.setdefault(f"{prefix}.{stage}.{f}", []).append(sm[f])
    return {k: statistics.mean(v) for k, v in acc.items()}


def run_serve(spark, args, work: str, tally: Tally) -> dict:
    from oscar_spark.build.indexer import build_index
    from oscar_spark.oracle.engine import OracleIndex
    from oscar_spark.serve.executor import SearchEngine

    inputs = Inputs(args.seed, args.pages, 0, work)
    # set-up: write the input and build the positional index once, then
    # start the engine (open it, fill its block cache) several times;
    # setup_s is the build plus the median start
    d = os.path.join(work, "idx")
    t0 = time.perf_counter()
    inputs.write()
    build_index(spark, spark.read.parquet(*inputs.base_files), d,
                positions=True)
    built = time.perf_counter() - t0
    log(f"positional index built in {built:.2f}s")
    rng = np.random.RandomState(args.seed)
    # the draw depends on document frequencies only, not on doc ids
    mix = draw_queries(OracleIndex(list(enumerate(inputs.pdf["text"]))), rng)
    local = [q for s, q in mix if s in LOCAL_STRATA]
    starts, opens = [], []
    for _ in range(ENGINE_STARTS):
        t0 = time.perf_counter()
        eng, dt = timed(SearchEngine, spark, d)
        opens.append(dt)
        eng.search_many(local, k=10)
        starts.append(time.perf_counter() - t0)
    setup = [built + s for s in starts]

    oracle = oracle_for(spark, d, inputs.pdf)
    expected = {q: oracle.search(q, k=10) for _, q in mix}
    order = interleave(mix, rng)

    def window(queries, seconds=0.0):
        """Whole passes over `queries`, until `seconds` have passed.
        A window of whole passes keeps the strata, and the fast and slow
        queries within them, in the same shares on every run."""
        lat, done, t0 = [], [], time.perf_counter()
        while True:
            for q in queries:
                a = time.perf_counter()
                try:
                    got = eng.search(q, k=10)
                except Exception as e:  # counted as a failed query
                    done.append((q, e))
                    continue
                lat.append(time.perf_counter() - a)
                done.append((q, got))
            if time.perf_counter() - t0 >= seconds:
                return lat, done, time.perf_counter() - t0

    # untimed warm-up pass: the Spark-job paths keep speeding up over the
    # first pass of a fresh JVM, and the block cache fills
    _, warm_done, wall = window(order)
    log(f"warm-up pass in {wall:.2f}s")
    lat, done, wall = window(order, seconds=args.seconds)
    log(f"window: {len(lat)} queries in {wall:.2f}s, "
        f"p50 {1e3 * statistics.median(lat):.1f} ms")
    metrics = {
        "setup_s": statistics.median(setup),
        "p50_ms": 1e3 * statistics.median(lat),
        "p90_ms": 1e3 * p90(lat),
        "rate_per_s": len(lat) / wall,
        "index_bytes_per_input_byte":
            dir_bytes_files(d)[0] / inputs.base_bytes(),
    }
    layers = {}
    if args.trace:
        from tracing import JobLog, Tracer
        # the overhead compares a traced replay of the window with it
        tracer = Tracer(JobLog(spark))
        tracer.install()
        start = now_ms()
        try:
            tlat, tdone, _ = window([q for q, _ in done])
        finally:
            tracer.uninstall()
        tracer.jobs.load(start, now_ms())
        for layer, why in tracer.unmeasured.items():
            print(f"unmeasured: {layer} ({why})")
        layers["trace.overhead_pct"] = 100.0 * (sum(tlat) / sum(lat) - 1)
        layers["p50_ms"] = metrics["p50_ms"]
        layers.update(tracer.serve_metrics())
        layers["serve.open_ms"] = 1e3 * statistics.median(opens)
        layers.update(store_metrics(d))
        dump_spans(args, tracer.spans)
        done += tdone

    for q, got in warm_done + done:
        tally.record(not isinstance(got, Exception)
                     and same_answer(got, expected[q]), f"query {q!r}: {got}")
    check_store(spark, d, tally)
    log("checked")
    metrics["peak_rss_mb"] = peak_rss_mb(spark)
    return layers if args.trace else metrics


def dump_spans(args, spans: list) -> None:
    out = os.path.join(ROOT, "perfbench", "out")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"spans-{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump(spans, f)


# ----------------------------------------------------------- entry point

WORKLOADS = {"build": run_build, "serve": run_serve}
# per-layer metrics of layers a workload does not run read zero there
NOT_RUN = {"build": ("serve.",), "serve": ("build.", "append.")}


def per_layer_names() -> list[str]:
    """Every per-layer metric, in report order."""
    from tracing import SERVE_METRICS, STAGE_FIELDS
    names = ["trace.overhead_pct", "error_rate", "p50_ms", "build.wall_s",
             "build.jobs"]
    for st in BUILD_STAGES:
        names += [f"build.{st}_s"] + [f"build.{st}.{f}" for f in STAGE_FIELDS]
    names.append("append.jobs")
    for st in BUILD_STAGES:
        names += [f"append.{st}_append_s"] + [
            f"append.{st}_append.{f}" for f in APPEND_FIELDS]
    for t in BUILD_TABLES:
        names += [f"store.{t}.bytes", f"store.{t}.files"]
    names.append("store.segments")
    return names + list(SERVE_METRICS) + ["serve.open_ms"]


# the end-to-end metrics; the median latency is per-layer, because on a
# shared host it moves with host load by more than any bound allowed
UNITS = {"setup_s": "s", "p90_ms": "ms", "rate_per_s": "1/s",
         "index_bytes_per_input_byte": "ratio", "peak_rss_mb": "MB"}


def layer_unit(name: str) -> str:
    tail = name.rsplit(".", 1)[-1]
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_bytes", "bytes"),
                         ("bytes", "bytes"), ("_pct", "%")):
        if tail.endswith(suffix):
            return unit
    if tail in ("slot_use", "error_rate"):
        return "ratio"
    return "count"


def prepare_env(work: str) -> None:
    """Keep every file Spark and Python write inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Python UDF workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    # the session's background prewarm writes under /dev/shm; the first
    # set-up repetition starts the Python workers instead
    os.environ["OSCAR_ASYNC_PREWARM"] = "0"
    # a fixed young generation: G1 sizes it adaptively by default, and
    # then the JVM's peak RSS swings by a fifth between runs of one input
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        "-Xmn512m' pyspark-shell")
    import tempfile
    tempfile.tempdir = tmp


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pages", type=int, default=BASE_PAGES,
                    help="base pages (smaller for the benchmark's own test)")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    try:
        import oscar_spark.session  # noqa: F401
    except ImportError as e:
        print(f"cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, "perfbench", ".work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(work)
    load_before = os.getloadavg()
    from oscar_spark.session import get_spark
    cores = len(os.sched_getaffinity(0))  # as `nproc` counts them
    spark = get_spark(app="perfbench", cores=cores, shuffle_partitions=cores)
    proc = spark.sparkContext._gateway.proc
    tally = Tally()
    try:
        spark.sparkContext.setLogLevel("ERROR")
        values = WORKLOADS[args.workload](spark, args, work, tally)
        version = spark.version
    finally:
        spark.stop()
        spark.sparkContext._gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if not args.trace:
        values = {k: values[k] for k in UNITS}
    else:
        values["error_rate"] = tally.error_rate
        values = {n: values.get(n, 0) for n in per_layer_names()
                  if n in values or n.startswith(NOT_RUN[args.workload])}
    for note in tally.notes:
        print(f"FAILED: {note}")
    print("conditions " + json.dumps({
        "workload": args.workload, "seed": args.seed, "nproc": cores,
        "spark": version, "pages": args.pages,
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in os.getloadavg()]}))
    units = UNITS if not args.trace else {}
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": units.get(k) or layer_unit(k)}
                    for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
