"""Spans, counters and Spark job attribution for the traced benchmark run.

Everything here wraps the engine from the outside: functions are
replaced on their modules and classes while a `Tracer` is installed and
restored afterwards, so no engine source is edited.  A wrapped function
that no longer exists is reported as an unmeasured layer instead of
failing the run.

Spark metrics come from the JVM status store.  Jobs are attributed to a
span by submission time, not by job group: jobs started from helper
threads (the build's terms stage) and by adaptive query execution do
not carry the caller's job group.
"""

from __future__ import annotations

import functools
import time

KEEPALIVE_DESCRIPTION = "python-worker keepalive"

# the Spark-side columns reported for each build stage
STAGE_FIELDS = ("jobs", "tasks", "task_s", "cpu_s", "gc_s",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                "skipped_stages", "slot_use")


SERVE_METRICS = (
    "serve.queries", "serve.parse_ms", "serve.expand_ms",
    "serve.term_lookup_ms", "serve.fetch_ms", "serve.fetch_jobs",
    "serve.cache.hits", "serve.cache.misses", "serve.cache.evictions",
    "serve.cache.resident_bytes", "serve.decode_score_ms",
    "serve.blocks_decoded", "serve.postings_decoded", "serve.materialize_ms",
    "serve.brute_ms", "serve.brute_jobs", "serve.phrase_ms",
    "serve.phrase_jobs", "serve.jobs_per_query.local",
    "serve.jobs_per_query.brute", "serve.jobs_per_query.phrase",
    "serve.jobs_per_query.pruned")

# the metrics each wrapped serve layer produces
LAYER_METRICS = {
    "serve.parse": ("serve.parse_ms",),
    "serve.expand": ("serve.expand_ms",),
    "serve.term_lookup": ("serve.term_lookup_ms",),
    "serve.fetch": ("serve.fetch_ms", "serve.fetch_jobs", "serve.cache"),
    "serve.decode_score": ("serve.decode_score_ms", "serve.blocks_decoded",
                           "serve.postings_decoded"),
    "serve.local": ("serve.materialize_ms", "serve.jobs_per_query.local"),
    "serve.brute": ("serve.brute_ms", "serve.brute_jobs",
                    "serve.jobs_per_query.brute"),
    "serve.phrase": ("serve.phrase_ms", "serve.phrase_jobs",
                     "serve.jobs_per_query.phrase"),
    "serve.pruned": ("serve.jobs_per_query.pruned",),
}


def now_ms() -> float:
    """Wall clock in epoch milliseconds, the status store's time base."""
    return time.time() * 1000.0


class JobLog:
    """Reads completed jobs and their stages out of the status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.cores = self.sc.defaultParallelism
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._jobs: list[tuple] = []

    def load(self, start_ms: float, end_ms: float) -> None:
        """Read once the jobs submitted inside [start_ms, end_ms],
        keepalive excluded; later span queries are answered from it."""
        # the status store is fed asynchronously by the listener bus
        self._bus.waitUntilEmpty()
        seq = self._store.jobsList(None)
        self._jobs = []
        for i in range(seq.size()):
            job = seq.apply(i)
            sub = job.submissionTime()
            if not sub.isDefined():
                continue
            t = sub.get().getTime()
            if not start_ms <= t <= end_ms:
                continue
            desc = job.description()
            if desc.isDefined() and desc.get() == KEEPALIVE_DESCRIPTION:
                continue
            self._jobs.append((t, job))

    def jobs_between(self, start_ms: float, end_ms: float) -> list:
        return [j for t, j in self._jobs if start_ms <= t <= end_ms]

    def count_jobs(self, start_ms: float, end_ms: float) -> int:
        return sum(start_ms <= t <= end_ms for t, _ in self._jobs)

    def stage_metrics(self, start_ms: float, end_ms: float) -> dict:
        """Spark metrics of every job submitted inside the span.

        Only COMPLETE stage attempts are summed; a stage reused from an
        earlier shuffle reports SKIPPED with zero metrics and is counted
        on its own line."""
        jobs = self.jobs_between(start_ms, end_ms)
        stage_ids = set()
        for job in jobs:
            ids = job.stageIds()  # a Scala Seq
            for i in range(ids.size()):
                stage_ids.add(int(ids.apply(i)))
        m = {f: 0.0 for f in STAGE_FIELDS}
        m["jobs"] = len(jobs)
        for sid in sorted(stage_ids):
            sd = self._store.lastStageAttempt(sid)
            status = str(sd.status())
            if status == "SKIPPED":
                m["skipped_stages"] += 1
                continue
            if status != "COMPLETE":
                continue
            m["tasks"] += sd.numTasks()
            m["task_s"] += sd.executorRunTime() / 1e3
            m["cpu_s"] += sd.executorCpuTime() / 1e9
            m["gc_s"] += sd.jvmGcTime() / 1e3
            m["shuffle_read_bytes"] += sd.shuffleReadBytes()
            m["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            m["spill_bytes"] += sd.diskBytesSpilled()
        wall_s = max(end_ms - start_ms, 1.0) / 1e3
        m["slot_use"] = m["task_s"] / (wall_s * self.cores)
        return m


def stage_spans(stage_secs: dict, end_ms: float) -> list[tuple]:
    """(stage, start_ms, end_ms) rebuilt from BuildResult.stage_secs.

    The build marks each stage as the time since the previous mark and
    returns right after the last one, so the spans are anchored at the
    call's end and laid out backwards."""
    t = end_ms - 1e3 * sum(stage_secs.values())
    spans = []
    for name, secs in stage_secs.items():
        spans.append((name, t, t + 1e3 * secs))
        t += 1e3 * secs
    return spans


class Tracer:
    """Wraps the serve layers of one SearchEngine class while installed.

    Each `SearchEngine.search` call is one query span; calls of the
    wrapped layers inside it become child spans of that query.  Spans
    stay in memory until `spans` is read."""

    def __init__(self, jobs: JobLog):
        self.jobs = jobs
        self.spans: list[dict] = []
        self.unmeasured: dict[str, str] = {}  # layer -> reason
        self.query: dict | None = None
        self._undo: list[tuple] = []

    # ---- installation ----
    def _wrap(self, owner, attr: str, layer: str, make) -> None:
        orig = getattr(owner, attr, None)
        if orig is None:
            self.unmeasured[layer] = (
                f"{getattr(owner, '__name__', owner)}.{attr} not found")
            return
        setattr(owner, attr, make(orig))
        self._undo.append((owner, attr, orig))

    def _span(self, name: str):
        tracer = self

        def make(orig):
            @functools.wraps(orig)
            def wrapper(*a, **kw):
                q = tracer.query
                if q is None:
                    return orig(*a, **kw)
                t0 = now_ms()
                try:
                    return orig(*a, **kw)
                finally:
                    tracer.spans.append({"name": name, "query": q["id"],
                                         "start": t0, "end": now_ms()})
            return wrapper
        return make

    def install(self) -> None:
        from oscar_spark.serve import executor, parser
        eng = getattr(executor, "SearchEngine", None)
        if eng is None:
            self.unmeasured["serve.query"] = "SearchEngine not found"
            return
        tracer = self

        def search(orig):
            @functools.wraps(orig)
            def wrapper(engine, query, *a, **kw):
                q = {"id": len(tracer.spans), "text": query}
                tracer.query = q
                t0 = now_ms()
                try:
                    return orig(engine, query, *a, **kw)
                finally:
                    tracer.query = None
                    tracer.spans.append({"name": "query", "query": q["id"],
                                         "start": t0, "end": now_ms(),
                                         "text": query})
            return wrapper

        def fetch(orig):
            @functools.wraps(orig)
            def wrapper(engine, terms, *a, **kw):
                q = tracer.query
                if q is None:
                    return orig(engine, terms, *a, **kw)
                cache = getattr(engine, "_block_cache", None)
                before = set(cache) if cache is not None else set()
                uniq = list(dict.fromkeys(terms))
                t0 = now_ms()
                out = orig(engine, terms, *a, **kw)
                span = {"name": "fetch", "query": q["id"],
                        "start": t0, "end": now_ms()}
                if cache is not None:
                    span["hits"] = sum(t in before for t in uniq)
                    span["misses"] = len(uniq) - span["hits"]
                    span["evictions"] = len(before - set(cache))
                    span["resident_bytes"] = getattr(
                        engine, "_block_cache_bytes", 0)
                tracer.spans.append(span)
                return out
            return wrapper

        def score(orig):
            @functools.wraps(orig)
            def wrapper(pdf, *a, **kw):
                q = tracer.query
                if q is None:
                    return orig(pdf, *a, **kw)
                t0 = now_ms()
                out = orig(pdf, *a, **kw)
                postings = (int(pdf["doc_count"].sum())
                            if "doc_count" in pdf else 0)
                tracer.spans.append({"name": "decode_score", "query": q["id"],
                                     "start": t0, "end": now_ms(),
                                     "blocks": len(pdf),
                                     "postings": postings})
                return out
            return wrapper

        self._wrap(eng, "search", "serve.query", search)
        self._wrap(parser, "parse", "serve.parse", self._span("parse"))
        self._wrap(eng, "_rewrite_prefixes", "serve.expand",
                   self._span("expand"))
        self._wrap(eng, "term_stats", "serve.term_lookup",
                   self._span("term_lookup"))
        self._wrap(eng, "_fetch_blocks_local", "serve.fetch", fetch)
        self._wrap(executor, "_score_pdf", "serve.decode_score", score)
        self._wrap(eng, "_score_local", "serve.local", self._span("local"))
        self._wrap(eng, "_decoded", "serve.brute", self._span("brute"))
        self._wrap(eng, "_eval_node", "serve.brute", self._span("eval_node"))
        self._wrap(eng, "_score_phrase_ranges", "serve.phrase",
                   self._span("phrase"))
        self._wrap(eng, "_search_pruned", "serve.pruned",
                   self._span("pruned"))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # ---- summary ----
    def serve_metrics(self) -> dict:
        """Per-layer serve metrics over every traced query."""
        by_q: dict[int, dict[str, list]] = {}
        roots = []
        for s in self.spans:
            if s["name"] == "query":
                roots.append(s)
            else:
                by_q.setdefault(s["query"], {}).setdefault(
                    s["name"], []).append(s)
        n = len(roots)
        total = {k: 0.0 for k in (
            "parse_ms", "expand_ms", "term_lookup_ms", "fetch_ms",
            "decode_score_ms", "materialize_ms", "brute_ms", "phrase_ms")}
        count = {k: 0 for k in (
            "hits", "misses", "evictions", "fetch_jobs", "blocks",
            "postings", "brute_jobs", "phrase_jobs")}
        resident = 0
        path_jobs = {p: [] for p in ("local", "brute", "phrase", "pruned")}
        for root in roots:
            kids = by_q.get(root["query"], {})

            def dur(name):
                return sum(s["end"] - s["start"] for s in kids.get(name, []))

            for k in ("parse", "expand", "term_lookup", "fetch",
                      "decode_score"):
                total[k + "_ms"] += dur(k)
            for s in kids.get("fetch", []):
                count["hits"] += s.get("hits", 0)
                count["misses"] += s.get("misses", 0)
                count["evictions"] += s.get("evictions", 0)
                resident = s.get("resident_bytes", resident)
                count["fetch_jobs"] += self.jobs.count_jobs(
                    s["start"], s["end"])
            for s in kids.get("decode_score", []):
                count["blocks"] += s["blocks"]
                count["postings"] += s["postings"]
            jobs = self.jobs.count_jobs(root["start"], root["end"])
            # the work after the term lookup is where the paths differ
            lookup_end = max((s["end"] for s in kids.get("term_lookup", [])),
                             default=root["start"])
            execute = root["end"] - lookup_end
            if "pruned" in kids:
                path = "pruned"
            elif "brute" in kids or "eval_node" in kids:
                path = "brute"
            elif "phrase" in kids:
                path = "phrase"
            elif "local" in kids:
                path = "local"
            else:
                path = None  # answered empty without touching postings
            if path == "brute":
                total["brute_ms"] += execute
                count["brute_jobs"] += jobs
            elif path == "phrase":
                total["phrase_ms"] += execute
                count["phrase_jobs"] += jobs
            elif path == "local":
                # sort + createDataFrame inside _score_local, and the
                # collect in search() after it returns
                local = kids["local"][-1]
                inner = dur("fetch") + dur("decode_score")
                total["materialize_ms"] += (
                    (local["end"] - local["start"] - inner)
                    + (root["end"] - local["end"]))
            if path is not None:
                path_jobs[path].append(jobs)
        # times are means per query of the path that spends them
        per = {"brute_ms": "brute", "phrase_ms": "phrase",
               "fetch_ms": "local", "decode_score_ms": "local",
               "materialize_ms": "local"}
        out = {f"serve.{k}": v / max(len(path_jobs[per[k]]) if k in per
                                     else n, 1)
               for k, v in total.items()}
        out.update({
            "serve.queries": len(roots),
            "serve.cache.hits": count["hits"],
            "serve.cache.misses": count["misses"],
            "serve.cache.evictions": count["evictions"],
            "serve.cache.resident_bytes": resident,
            "serve.fetch_jobs": count["fetch_jobs"],
            "serve.blocks_decoded": count["blocks"],
            "serve.postings_decoded": count["postings"],
            "serve.brute_jobs": count["brute_jobs"],
            "serve.phrase_jobs": count["phrase_jobs"],
        })
        for p, js in path_jobs.items():
            out[f"serve.jobs_per_query.{p}"] = (sum(js) / len(js)) if js else 0
        # a layer whose function was not found reports nothing, not zero
        drop = [m for layer in self.unmeasured
                for m in LAYER_METRICS.get(layer, ())]
        if "serve.query" in self.unmeasured:
            drop = list(out)
        return {k: v for k, v in out.items()
                if not any(k == d or k.startswith(d + ".") for d in drop)}
