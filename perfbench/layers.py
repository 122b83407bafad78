"""Per-layer metrics of one traced job, read from Spark's own event log.

A layer is a module of the package (``operators.knn``,
``sources.catalog``, ...) or the engine itself (``spark``).  Three sources
feed the attribution:

* Spans.  The benchmark opens a span (name, start, end, parent) around
  each call into a layer and puts the span id on the local property
  ``perfbench.span``, so every Spark job carries the innermost span.
* Call sites.  PySpark records no call site for most actions
  (``count``, ``localCheckpoint``, writes), so while tracing the
  benchmark wraps the DataFrame actions and puts the innermost package
  frame on the local property ``perfbench.site``.  A job belongs to the
  module of its call site, or else to its innermost span.
* Physical operators.  Python UDF operators belong to the module that
  defines the UDF (``spark.sql.pyspark.udf.profiler=perf`` names it and
  gives its in-worker time); parquet scans of the catalog directory and
  the snapshot write belong to ``sources.catalog``.

A layer's self time (``*.self_s``) is its jobs' task time minus the
operators of other layers inside them, plus the driver's wall time
inside its spans while no job and no child span runs.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import pstats
import re
import statistics
import sys
import time
from contextlib import contextmanager, nullcontext

PKG = "p3_osm_transformer_spark"
SPAN_PROP = "perfbench.span"
SITE_PROP = "perfbench.site"
PY_TIME = "time to run Python workers"
ROWS = "number of output rows"

# DataFrame / reader / writer methods that run Spark jobs
ACTIONS = {
    "DataFrame": ("collect", "count", "toPandas", "localCheckpoint",
                  "checkpoint", "isEmpty", "first", "head", "take", "tail",
                  "toLocalIterator", "foreach", "foreachPartition"),
    "DataFrameWriter": ("save", "parquet", "saveAsTable", "insertInto",
                        "json", "csv", "orc", "text"),
    "DataFrameReader": ("parquet", "load", "json", "csv", "orc", "table"),
}


def module_of(path: str) -> str | None:
    """``.../p3_osm_transformer_spark/operators/knn.py`` → ``operators.knn``."""
    marker = os.sep + PKG + os.sep
    if marker not in path:
        return None
    return path.split(marker, 1)[1][:-3].replace(os.sep, ".")


class NullTracer:
    """The untraced run's tracer: spans and counts cost nothing."""

    def span(self, name):
        return nullcontext()

    def catalog(self, root):
        from p3_osm_transformer_spark.sources.catalog import Catalog
        return Catalog(root)

    def note_storage(self, spark):
        pass


class Tracer(NullTracer):
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.cache_bytes = 0

    @contextmanager
    def span(self, name):
        sid = len(self.spans) + 1
        self.spans.append({"id": sid, "name": name,
                           "parent": self.stack[-1] if self.stack else 0,
                           "start": time.time() * 1000})
        self.stack.append(sid)
        self.sc.setLocalProperty(SPAN_PROP, str(sid))
        try:
            yield
        finally:
            self.spans[sid - 1]["end"] = time.time() * 1000
            self.stack.pop()
            self.sc.setLocalProperty(
                SPAN_PROP, str(self.stack[-1]) if self.stack else None)

    def catalog(self, root):
        """A Catalog whose public methods each run inside a
        ``sources.catalog`` span."""
        from p3_osm_transformer_spark.sources.catalog import Catalog
        tracer = self

        class TracedCatalog(Catalog):
            pass
        for name, fn in vars(Catalog).items():
            if callable(fn) and not name.startswith("_"):
                def wrapped(self, *a, _fn=fn, **kw):
                    with tracer.span("sources.catalog"):
                        return _fn(self, *a, **kw)
                setattr(TracedCatalog, name, wrapped)
        return TracedCatalog(root)

    def note_storage(self, spark):
        """Bytes of persisted blocks still held when the job has committed:
        the flagship's branch-point persist, plus the kNN rounds' small
        checkpoints while the result's lineage pins them."""
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        self.cache_bytes = sum(i.memSize() + i.diskSize() for i in infos)

    @contextmanager
    def call_sites(self, spark):
        """Wrap the job-running methods so each job carries the innermost
        package frame that called it."""
        sc = self.sc
        classes = {"DataFrame": type(spark.range(1)),
                   "DataFrameWriter": type(spark.range(1).write),
                   "DataFrameReader": type(spark.read)}
        saved = []

        def wrap(fn):
            @functools.wraps(fn)
            def w(*a, **kw):
                f = sys._getframe(1)
                while f is not None and module_of(f.f_code.co_filename) is None:
                    f = f.f_back
                if f is None:
                    return fn(*a, **kw)
                prev = sc.getLocalProperty(SITE_PROP)
                sc.setLocalProperty(SITE_PROP, module_of(f.f_code.co_filename))
                try:
                    return fn(*a, **kw)
                finally:
                    sc.setLocalProperty(SITE_PROP, prev)
            return w
        for cname, names in ACTIONS.items():
            cls = classes[cname]
            for n in names:
                if hasattr(cls, n):
                    saved.append((cls, n, cls.__dict__.get(n)))
                    setattr(cls, n, wrap(getattr(cls, n)))
        try:
            yield
        finally:
            for cls, n, orig in reversed(saved):
                if orig is None:
                    delattr(cls, n)
                else:
                    setattr(cls, n, orig)


# ------------------------------------------------------------ event log

class Node:
    __slots__ = ("name", "desc", "metrics", "children")

    def __init__(self, info: dict):
        self.name = info["nodeName"]
        self.desc = info["simpleString"]
        self.metrics = {m["name"]: m["accumulatorId"] for m in info["metrics"]}
        self.children = [Node(c) for c in info["children"]]

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()


class EventLog:
    """Jobs, stages, tasks and SQL plans of one application."""

    def __init__(self, log_dir: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.plans: dict[int, Node] = {}       # execution id → final plan
        self.acc: dict[int, float] = {}        # accumulator id → total
        self.stage_acc: dict[int, dict[int, float]] = {}
        files = glob.glob(os.path.join(log_dir, "*", "events_*"))
        files.sort(key=lambda p: int(re.search(r"events_(\d+)_", p).group(1)))
        for path in files:
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            ex = props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = {
                "start": e["Submission Time"], "end": None,
                "stages": e["Stage IDs"], "site": props.get(SITE_PROP),
                "span": int(props.get(SPAN_PROP) or 0),
                "exec": int(ex) if ex is not None else None}
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            st = self.stages.setdefault(si["Stage ID"], _new_stage())
            st["wall"] += si["Completion Time"] - si["Submission Time"]
        elif kind == "SparkListenerTaskEnd":
            tm, ti = e.get("Task Metrics") or {}, e["Task Info"]
            sid = e["Stage ID"]
            st = self.stages.setdefault(sid, _new_stage())
            st["tasks"].append(ti["Finish Time"] - ti["Launch Time"])
            st["run"] += tm.get("Executor Run Time", 0) / 1e3
            st["cpu"] += tm.get("Executor CPU Time", 0) / 1e9
            st["gc"] += tm.get("JVM GC Time", 0) / 1e3
            st["spill"] += tm.get("Disk Bytes Spilled", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            st["shuf_r"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            st["shuf_w"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            sa = self.stage_acc.setdefault(sid, {})
            for a in ti.get("Accumulables", []):
                if "Update" in a and not a["Name"].startswith("internal."):
                    v = float(a["Update"])
                    sa[a["ID"]] = sa.get(a["ID"], 0.0) + v
                    self.acc[a["ID"]] = self.acc.get(a["ID"], 0.0) + v
        elif kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"):
            self.plans[e["executionId"]] = Node(e["sparkPlanInfo"])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for aid, v in e["accumUpdates"]:
                self.acc[aid] = self.acc.get(aid, 0.0) + float(v)


def _new_stage() -> dict:
    return {"tasks": [], "run": 0.0, "cpu": 0.0, "gc": 0.0, "spill": 0,
            "shuf_r": 0, "shuf_w": 0, "wall": 0}


def _gaps(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    """The parts of [lo, hi] that no interval covers."""
    out, cur = [], lo
    for s, e in sorted(intervals):
        if s > cur:
            out.append((cur, min(s, hi)))
        cur = max(cur, e)
        if cur >= hi:
            break
    if cur < hi:
        out.append((cur, hi))
    return [(s, e) for s, e in out if e > s]


def _package_files() -> dict[str, str]:
    """File base name → module, for base names used once in the package
    (the UDF profiler records base names only)."""
    import p3_osm_transformer_spark as pkg
    root = os.path.dirname(pkg.__file__)
    seen: dict[str, list[str]] = {}
    for path in glob.glob(os.path.join(root, "**", "*.py"), recursive=True):
        seen.setdefault(os.path.basename(path), []).append(module_of(path))
    return {b: ms[0] for b, ms in seen.items() if len(ms) == 1}


def udf_profile(prof_dir: str) -> dict[str, dict[str, float]]:
    """Per UDF function name, the in-worker seconds spent in it by each
    package module that defines a function of that name.  Time the
    function spends pulling its input batches (pyspark's serializers) is
    not counted."""
    files = _package_files()
    out: dict[str, dict[str, float]] = {}
    for path in glob.glob(os.path.join(prof_dir, "*.pstats")):
        st = pstats.Stats(path).stats
        top = max((k for k in st if k[0] in files), default=None,
                  key=lambda k: st[k][3])
        if top is None:
            continue
        t = st[top][3]
        for callee, (_, _, _, _, callers) in st.items():
            if top in callers and (callee[0] == "serializers.py"
                                   or callee[2] == "<built-in method builtins.next>"):
                t -= callers[top][3]
        mods = out.setdefault(top[2], {})
        mods[files[top[0]]] = mods.get(files[top[0]], 0.0) + max(t, 0.0)
    return out


class Attribution:
    """Per-layer numbers for the jobs submitted in [lo, hi] (epoch ms)."""

    def __init__(self, log: EventLog, spans: list[dict], lo: float, hi: float,
                 profile: dict, catalog_root: str | None):
        self.log, self.profile, self.lo, self.hi = log, profile, lo, hi
        self.jobs = {j: d for j, d in log.jobs.items() if lo <= d["start"] <= hi}
        spans_by_id = {s["id"]: s for s in spans}
        for d in self.jobs.values():
            s = spans_by_id.get(d["span"])
            d["layer"] = d["site"] or (s["name"] if s else "bench")
        self.stage_job: dict[int, int] = {}
        for j in sorted(self.jobs):
            for sid in self.jobs[j]["stages"]:
                if sid in log.stages and log.stages[sid]["tasks"]:
                    self.stage_job.setdefault(sid, j)
        self.stages = {sid: log.stages[sid] for sid in self.stage_job}
        self.plans = {d["exec"]: log.plans[d["exec"]] for d in self.jobs.values()
                      if d["exec"] in log.plans}
        self.writes = {x for x, p in self.plans.items() if any(
            n.name.startswith("Execute InsertInto") for n in p.walk())}
        self.py_nodes = [n for n in self.nodes() if PY_TIME in n.metrics]
        self.cat_scans = [n for n in self.nodes() if n.name.startswith(
            "Scan parquet") and catalog_root and catalog_root in n.desc]
        self.self_task = self._self_task()
        self.driver = self._driver(spans, hi)

    def nodes(self, layer: str | None = None):
        """Plan nodes of the window's SQL executions (of ``layer``'s jobs)."""
        xs = {d["exec"] for d in self.jobs.values()
              if d["exec"] in self.plans and layer in (None, d["layer"])}
        seen = set()
        for x in sorted(xs):
            for n in self.plans[x].walk():
                key = (n.name, n.desc, tuple(sorted(n.metrics.values())))
                if key not in seen:
                    seen.add(key)
                    yield n

    def total(self, ns, metric: str) -> float:
        return sum(self.log.acc.get(a, 0.0)
                   for a in {n.metrics[metric] for n in ns if metric in n.metrics})

    def udf_layers(self, n: Node) -> dict[str, float]:
        """Modules whose UDFs operator ``n`` runs, with their share of its
        Python time (from the profile)."""
        shares: dict[str, float] = {}
        for fname, mods in self.profile.items():
            if re.search(r"\b%s\(" % re.escape(fname), n.desc):
                for m, t in mods.items():
                    shares[m] = shares.get(m, 0.0) + t
        s = sum(shares.values())
        return {m: t / s for m, t in shares.items()} if s else {}

    def _self_task(self) -> dict[tuple[str, str], float]:
        """Task seconds per (layer, kind); kind is ``write`` for the jobs
        of a snapshot write, ``udf``/``scan`` for operators moved out of
        another layer's job, else ``job``."""
        out: dict[tuple[str, str], float] = {}
        for sid, st in self.stages.items():
            job = self.jobs[self.stage_job[sid]]
            acc = self.log.stage_acc.get(sid, {})
            moved: dict[tuple[str, str], float] = {}
            for n in self.py_nodes:
                t = acc.get(n.metrics[PY_TIME], 0.0) / 1e3
                for m, share in self.udf_layers(n).items():
                    moved[(m, "udf")] = moved.get((m, "udf"), 0.0) + t * share
            for n in self.cat_scans:
                t = acc.get(n.metrics.get("scan time"), 0.0) / 1e3
                moved[("sources.catalog", "scan")] = moved.get(
                    ("sources.catalog", "scan"), 0.0) + t
            moved = {k: t for k, t in moved.items() if k[0] != job["layer"]}
            out_s = sum(moved.values())
            scale = min(1.0, st["run"] / out_s) if out_s else 1.0
            for k, t in moved.items():
                out[k] = out.get(k, 0.0) + t * scale
            kind = "write" if job["exec"] in self.writes else "job"
            k = (job["layer"], kind)
            out[k] = out.get(k, 0.0) + st["run"] - out_s * scale
        return out

    def _driver(self, spans: list[dict], hi: float) -> dict[str, float]:
        """Driver seconds inside spans while no job and no child span runs.
        A gap belongs to the layer of the job that follows it inside the
        span (the driver was preparing that job), else to the span."""
        job_iv = sorted((d["start"], d["end"] or hi, d["layer"])
                        for d in self.jobs.values())
        out: dict[str, float] = {}
        for s in spans:
            kids = [(c["start"], c["end"]) for c in spans if c["parent"] == s["id"]]
            busy = [(a, b) for a, b, _ in job_iv] + kids
            for g0, g1 in _gaps(busy, s["start"], s["end"]):
                nxt = next((lay for a, _, lay in job_iv
                            if g1 <= a <= s["end"]), None)
                layer = nxt if nxt and not nxt.startswith("bench") else s["name"]
                out[layer] = out.get(layer, 0.0) + (g1 - g0) / 1e3
        return out

    def self_s(self, layer: str) -> float:
        return (sum(t for (m, _), t in self.self_task.items() if m == layer)
                + self.driver.get(layer, 0.0))

    def task_s(self, layer: str, kind: str) -> float:
        return self.self_task.get((layer, kind), 0.0)

    def udf_s(self, module: str, fname: str | None = None) -> float:
        return sum(t for f, mods in self.profile.items() if fname in (None, f)
                   for m, t in mods.items() if m == module)

    def tile_s(self) -> float:
        """Own time of the codegen stages whose fused operators compute
        tile columns: their duration minus the codegen stages and Python
        operators they pull from.  Operators Spark fused into the same
        codegen stage count too, so this is an upper bound."""
        acc = self.log.acc

        def below(w):
            stack = list(w.children)
            while stack:
                n = stack.pop()
                yield n
                if not n.name.startswith("WholeStageCodegen") and \
                        PY_TIME not in n.metrics and "Exchange" not in n.name \
                        and not n.name.endswith("QueryStage"):
                    stack.extend(n.children)

        def fused(w):
            stack = list(w.children)
            while stack:
                n = stack.pop()
                yield n
                if n.name != "InputAdapter":
                    stack.extend(n.children)
        t = 0.0
        for w in self.nodes():
            if w.name.startswith("WholeStageCodegen") and any(
                    "tile_z" in n.desc for n in fused(w)):
                inner = sum(acc.get(n.metrics.get("duration"), 0.0)
                            if n.name.startswith("WholeStageCodegen")
                            else acc.get(n.metrics.get(PY_TIME), 0.0)
                            for n in below(w))
                t += max(acc.get(w.metrics.get("duration"), 0.0) - inner, 0.0)
        return t / 1e3

    def rows_into(self, n: Node) -> float:
        """Output rows of the nearest operator below ``n`` that counts them."""
        queue = list(n.children)
        while queue:
            c = queue.pop(0)
            if ROWS in c.metrics:
                return self.log.acc.get(c.metrics[ROWS], 0.0)
            queue.extend(c.children)
        return 0.0


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def layer_metrics(at: Attribution, job_s: float, cores: int,
                  counts: dict) -> dict[str, tuple[float, str]]:
    """The per-layer metrics of BENCHMARK.json, from one traced job."""
    st = at.stages.values()
    jobs = at.jobs.values()
    longest = max(st, key=lambda s: s["wall"], default=None)
    skew = (max(longest["tasks"]) / max(statistics.median(longest["tasks"]), 1)
            if longest else 0.0)
    knn = list(at.nodes("operators.knn"))
    rounds = sum(any(n.name == "Generate" for n in at.plans[x].walk())
                 for x in {d["exec"] for d in jobs
                           if d["layer"] == "operators.knn" and d["exec"] in at.plans})
    cand = at.total([n for n in knn if "Join" in n.name and "probe_cell" in n.desc], ROWS)
    writes = [n for n in at.nodes() if n.name.startswith("Execute InsertInto")]
    refine = [n for n in at.py_nodes if "operators.pip" in at.udf_layers(n)]
    exif = [n for n in at.py_nodes if "operators.exif" in at.udf_layers(n)]
    enc = [n for n in at.py_nodes if {"functions.s2cell", "functions.hexcell"}
           & set(at.udf_layers(n))]
    jac = [n for n in at.py_nodes if re.search(r"\b_jac\(", n.desc)]
    cos = [n for n in at.py_nodes if re.search(r"\b_cos\(", n.desc)]
    done = [n for x in at.writes for n in at.plans[x].walk() if n in at.cat_scans]
    pip_cand = sum(at.rows_into(n) for n in refine)
    pip_hits = at.total(refine, ROWS)
    exif_rows = at.total(exif, ROWS)
    dedup_cand = at.total(jac, ROWS)
    ann_cand = at.total(cos, ROWS)
    sec, cnt, byt, rat = "s", "count", "bytes", "ratio"
    return {
        "spark.jobs": (len(at.jobs), cnt),
        "spark.stages": (len(at.stages), cnt),
        "spark.driver_gap_s": (sum(e - s for s, e in _gaps(
            [(d["start"], d["end"] or at.hi) for d in jobs], at.lo, at.hi)) / 1e3,
            sec),
        "spark.tasks": (sum(len(s["tasks"]) for s in st), cnt),
        "spark.task_run_s": (sum(s["run"] for s in st), sec),
        "spark.task_cpu_s": (sum(s["cpu"] for s in st), sec),
        "spark.slot_busy_frac": (_ratio(sum(s["run"] for s in st), job_s * cores), rat),
        "spark.task_skew": (skew, rat),
        "spark.gc_s": (sum(s["gc"] for s in st), sec),
        "spark.spill_bytes": (sum(s["spill"] for s in st), byt),
        "spark.shuffle_write_bytes": (sum(s["shuf_w"] for s in st), byt),
        "spark.shuffle_read_bytes": (sum(s["shuf_r"] for s in st), byt),
        "spark.py_udf_s": (at.total(at.py_nodes, PY_TIME) / 1e3, sec),
        "spark.py_bytes_sent": (at.total(at.py_nodes, "data sent to Python workers"), byt),
        "spark.py_bytes_recv": (at.total(at.py_nodes, "data returned from Python workers"), byt),
        "operators.exif.udf_s": (at.udf_s("operators.exif"), sec),
        "operators.exif.rows_sent": (exif_rows, cnt),
        "operators.exif.hit_ratio": (_ratio(counts.get("exif_fixes", 0), exif_rows), rat),
        "functions.s2cell.udf_s": (at.udf_s("functions.s2cell"), sec),
        "functions.hexcell.udf_s": (at.udf_s("functions.hexcell"), sec),
        "functions.encode_rows": (at.total(enc, ROWS), cnt),
        "operators.tile_assign.self_s": (at.tile_s(), sec),
        "operators.knn.self_s": (at.self_s("operators.knn"), sec),
        "operators.knn.rounds": (rounds, cnt),
        "operators.knn.cand_pairs": (cand, cnt),
        "operators.knn.pairs_per_point": (_ratio(cand, counts.get("geo_points", 0)), rat),
        "operators.knn.tail_pairs": (at.total([n for n in knn if n.name in (
            "BroadcastNestedLoopJoin", "CartesianProduct")], ROWS), cnt),
        "operators.knn.jobs": (sum(d["layer"] == "operators.knn" for d in jobs), cnt),
        "plans.pipeline.plan_s": (at.driver.get("plans.pipeline", 0.0), sec),
        "plans.pipeline.cache_bytes": (counts.get("cache_bytes", 0), byt),
        "sources.catalog.write_s": (at.task_s("sources.catalog", "write"), sec),
        "sources.catalog.read_s": (at.task_s("sources.catalog", "job")
                                   + at.task_s("sources.catalog", "scan"), sec),
        "sources.catalog.manifest_s": (at.driver.get("sources.catalog", 0.0), sec),
        "sources.catalog.files_written": (at.total(writes, "number of written files"), cnt),
        "sources.catalog.bytes_written": (at.total(writes, "written output"), byt),
        "sources.catalog.out_bytes_per_row": (
            _ratio(counts.get("out_bytes", 0), counts.get("rows_out", 0)), byt),
        "streaming.resume.self_s": (at.self_s("streaming.resume"), sec),
        "streaming.resume.done_keys": (at.total(done, ROWS), cnt),
        "operators.pip.candidates": (pip_cand, cnt),
        "operators.pip.hits": (pip_hits, cnt),
        "operators.pip.hit_ratio": (_ratio(pip_hits, pip_cand), rat),
        "operators.pip.refine_s": (at.udf_s("operators.pip"), sec),
        "operators.dedup.self_s": (at.self_s("operators.dedup"), sec),
        "operators.dedup.signature_s": (at.udf_s("operators.dedup", "gen"), sec),
        "operators.dedup.verify_s": (at.udf_s("operators.dedup", "_jac"), sec),
        "operators.dedup.cand_pairs": (dedup_cand, cnt),
        "operators.dedup.verify_pass_ratio": (
            _ratio(counts.get("dedup_pairs", 0), dedup_cand), rat),
        "operators.simsearch.self_s": (at.self_s("operators.simsearch"), sec),
        "operators.simsearch.sketch_s": (at.udf_s("operators.simsearch", "_sk"), sec),
        "operators.simsearch.rerank_s": (at.udf_s("operators.simsearch", "_cos"), sec),
        "operators.simsearch.cand_pairs": (ann_cand, cnt),
        "operators.simsearch.cand_per_query": (
            _ratio(ann_cand, counts.get("ann_queries", 0)), rat),
        "operators.simsearch.broadcast_bytes": (at.total([
            n for n in at.nodes("operators.simsearch")
            if n.name == "BroadcastExchange"], "data size"), byt),
    }


def traced_leg(workload: str, seed: int, run_dir: str, cache: str,
               cores: int) -> dict:
    """One job at local[``cores``] with the event log, call sites, spans
    and the UDF profiler on, run in a fresh process (a SparkContext
    restarted in one process loses the profiler's results).  Returns the
    per-layer metrics, the dominant layers, job seconds and problems."""
    from perfbench.run import session, shutdown_jvm
    from perfbench.workloads import WORKLOADS
    wl = WORKLOADS[workload]()
    ev = os.path.join(run_dir, f"events-{cores}")
    prof_dir = os.path.join(run_dir, f"profile-{cores}")
    spark = session(run_dir, f"local[{cores}]", event_log=ev)
    try:
        wl.prepare(spark, run_dir, cache, seed)
        wl.reset()
        tr = Tracer(spark)
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        with tr.call_sites(spark):
            lo = time.time() * 1000
            out = wl.run(spark, tr)
            hi = time.time() * 1000
        spark.profile.dump(prof_dir)
        spark.conf.unset("spark.sql.pyspark.udf.profiler")
        errs = wl.check(spark, out)
        counts = dict(wl.layer_counts(spark, out), cache_bytes=tr.cache_bytes)
    finally:
        spark.stop()
        shutdown_jvm()
    job_s = (hi - lo) / 1e3
    at = Attribution(EventLog(ev), tr.spans, lo, hi, udf_profile(prof_dir),
                     getattr(wl, "catalog_dir", None))
    layers = {m: at.self_s(m) for m in {k[0] for k in at.self_task} | set(at.driver)}
    return {"metrics": layer_metrics(at, job_s, cores, counts),
            "dominant": sorted(layers.items(), key=lambda kv: -kv[1])[:3],
            "task_s": sum(s["run"] for s in at.stages.values()),
            "job_s": job_s, "errs": errs}


if __name__ == "__main__":
    # python3 -m perfbench.layers WORKLOAD SEED RUN_DIR CACHE CORES OUT:
    # one traced leg in a process of its own, its result as JSON in OUT
    w, seed, run_dir, cache, cores, out = sys.argv[1:]
    res = traced_leg(w, int(seed), run_dir, cache, int(cores))
    with open(out, "w") as f:
        json.dump(res, f, default=float)
