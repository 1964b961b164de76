"""Traced-run recorder: spans around ``padua_spark`` public calls, Spark
work attributed to each span through job groups, and the arithmetic
that turns both into per-layer metrics.

Spans are recorded from outside the program: :func:`instrument`
replaces every public function of the layer modules with a wrapper
that opens a span, tags the jobs the call launches with
``SparkContext.setJobGroup(<span id>)`` and, when the span closes,
reads those jobs' stage metrics from the status store. The originals
are restored when the context exits.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import re
import sys
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

# layer name -> modules whose public functions belong to it
LAYER_MODULES = {
    "sources": [
        "padua_spark.sources.maxquant",
        "padua_spark.sources.design",
        "padua_spark.sources.perseus",
    ],
    "operators.filters": ["padua_spark.operators.filters"],
    "operators.process": ["padua_spark.operators.process"],
    "operators.normalization": ["padua_spark.operators.normalization"],
    "operators.aggregates": ["padua_spark.operators.aggregates"],
    "operators.stats": ["padua_spark.operators.stats"],
    "operators.imputation": ["padua_spark.operators.imputation"],
    "operators.ml": ["padua_spark.operators.ml"],
    "extensions.dedup": ["padua_spark.extensions.dedup"],
    "extensions.similarity": ["padua_spark.extensions.similarity"],
    "extensions.graph": ["padua_spark.extensions.graph"],
    "pipelines": ["padua_spark.pipelines"],
}
LAYERS = list(LAYER_MODULES)
# layer of the span that encloses one whole workload run
ROOT = "workload"
SPARK_KEYS = ("jobs", "stages", "tasks", "run_ms", "input_bytes",
              "shuffle_write_bytes", "spill_bytes")


class MissingJobError(RuntimeError):
    """A job or stage of a traced span is gone from the status store."""


def empty_metrics() -> dict:
    return {k: 0 for k in SPARK_KEYS}


def add_metrics(a: dict, b: dict, sign: int = 1) -> dict:
    return {k: a[k] + sign * b[k] for k in SPARK_KEYS}


class SparkStatus:
    """Job and stage metrics read through ``statusTracker()`` and the
    JVM ``AppStatusStore``; works with ``spark.ui.enabled=false``."""

    def __init__(self, sc):
        self.sc = sc
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so
        the store holds the final metrics of every finished job."""
        self._jsc.listenerBus().waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def metrics(self, job_ids: list[int]) -> dict:
        """Summed metrics of the stage attempts that ran for these jobs.
        A stage shared by several jobs (skipped on re-use) counts once."""
        out = empty_metrics()
        seen: set[int] = set()
        for jid in job_ids:
            try:
                job = self._store.job(jid)
            except Exception as exc:  # py4j wraps NoSuchElementException
                raise MissingJobError(f"job {jid} not in status store") from exc
            out["jobs"] += 1
            it = job.stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    attempts = self._store.stageData(sid, False, None, False, None)
                except Exception as exc:
                    raise MissingJobError(f"stage {sid} of job {jid} missing") from exc
                ait = attempts.iterator()
                while ait.hasNext():
                    st = ait.next()
                    if st.status().toString() == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += st.numCompleteTasks()
                    out["run_ms"] += st.executorRunTime()
                    out["input_bytes"] += st.inputBytes()
                    out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    out["spill_bytes"] += (
                        st.memoryBytesSpilled() + st.diskBytesSpilled()
                    )
        return out


@dataclass
class Span:
    name: str
    layer: str
    start: float
    run_id: str
    parent: int | None
    group: str
    end: float = 0.0
    job_ids: list = field(default_factory=list)
    spark: dict = field(default_factory=empty_metrics)
    inputs: list = field(default_factory=list)
    outputs: list = field(default_factory=list)


class Tracer:
    """Span recorder for one run: span parents are indices into
    ``spans``. Spans stay in memory; callers reduce them with the pure
    functions below."""

    def __init__(self, status: SparkStatus, keep_frames: bool = False):
        self.status = status
        self.keep_frames = keep_frames
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.run_id = ""

    def _set_group(self, group: str | None) -> None:
        if group is None:
            self.status.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.status.sc.setJobGroup(group, group)

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        sp = Span(name, layer, time.perf_counter(), self.run_id, parent,
                  f"{self.run_id}/{idx}:{name}")
        self.spans.append(sp)
        self._stack.append(idx)
        self._set_group(sp.group)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(
                self.spans[self._stack[-1]].group if self._stack else None
            )
            self.status.drain()
            sp.job_ids = self.status.job_ids(sp.group)
            sp.spark = self.status.metrics(sp.job_ids)

    def wrap(self, fn, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(fn.__name__, layer) as sp:
                if self.keep_frames:
                    sp.inputs = _frames([*args, *kwargs.values()])
                out = fn(*args, **kwargs)
                if self.keep_frames:
                    sp.outputs = _frames(
                        list(out) if isinstance(out, tuple) else [out]
                    )
                return out

        return traced


def _frames(values) -> list:
    return [v for v in values if isinstance(v, DataFrame)]


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Replace the public functions of every layer module — and every
    reference to them held by another ``padua_spark`` module, such as
    ``pipelines.read_maxquant`` — with span-recording wrappers."""
    originals = {}
    for layer, mod_names in LAYER_MODULES.items():
        for mod_name in mod_names:
            mod = importlib.import_module(mod_name)
            for name, fn in vars(mod).items():
                if (not name.startswith("_") and inspect.isfunction(fn)
                        and fn.__module__ == mod_name):
                    originals[id(fn)] = (fn, tracer.wrap(fn, layer))
    patched = []
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith("padua_spark"):
            continue
        for name, value in list(vars(mod).items()):
            hit = originals.get(id(value))
            if hit is not None and hit[0] is value:
                setattr(mod, name, hit[1])
                patched.append((mod, name, value))
    try:
        yield
    finally:
        for mod, name, value in patched:
            setattr(mod, name, value)


# ---------------------------------------------------------------------------
# pure reductions over recorded spans
# ---------------------------------------------------------------------------


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list) -> list[float]:
    """Per span: its duration minus the part its direct children cover."""
    children: dict[int, list] = {}
    for i, s in enumerate(spans):
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        (s.end - s.start) - _covered(children.get(i, []))
        for i, s in enumerate(spans)
    ]


def layer_totals(spans: list) -> dict[str, dict]:
    """Per layer: ``call_s`` (outermost spans of the layer: a call nested
    in another call of the same layer is not counted twice),
    ``self_s`` (sum of self times), ``eager_jobs`` and the Spark
    metrics of jobs launched while a span of the layer was innermost."""
    out: dict[str, dict] = {}
    selfs = self_times(spans)
    for i, s in enumerate(spans):
        t = out.setdefault(
            s.layer, {"call_s": 0.0, "self_s": 0.0, "spark": empty_metrics()}
        )
        t["self_s"] += selfs[i]
        t["spark"] = add_metrics(t["spark"], s.spark)
        p, nested = s.parent, False
        while p is not None:
            if spans[p].layer == s.layer:
                nested = True
                break
            p = spans[p].parent
        if not nested:
            t["call_s"] += s.end - s.start
    return out


def boundary_spans(spans: list) -> list[int]:
    """Indices of the calls a user makes: spans directly inside the
    run's root span or inside an end-to-end pipeline call."""
    return [
        i for i, s in enumerate(spans)
        if s.parent is not None and spans[s.parent].layer in (ROOT, "pipelines")
    ]


# attribute references render as name#exprId; expression ids are unique
# within a session, so the ids alone identify an attribute
_EXPR_ID = re.compile(r"#(\d+)")


def output_attrs(df: DataFrame) -> set[str]:
    """Expression ids of a frame's analyzed output attributes."""
    return set(_EXPR_ID.findall(
        df._jdf.queryExecution().analyzed().output().toString()
    ))


def plan_attrs(df: DataFrame) -> set[str]:
    """Expression ids referenced anywhere in a frame's analyzed plan."""
    return set(_EXPR_ID.findall(
        df._jdf.queryExecution().analyzed().toString()
    ))


def prefix_parents(outputs: list[list[set]], inputs: list[list[set]]) -> list:
    """For each boundary call k, the call whose output its first
    derived input extends: inputs are tried in argument order, and for
    each the latest earlier call with an output whose attributes all occur
    in that input's plan wins. None when every input is a fresh read."""
    parents = []
    for k, ins in enumerate(inputs):
        parent = None
        for plan in ins:
            for j in range(k - 1, -1, -1):
                if any(out and out <= plan for out in outputs[j]):
                    parent = j
                    break
            if parent is not None:
                break
        parents.append(parent)
    return parents


def prefix_marginals(forced: list[tuple], parents: list) -> list[tuple]:
    """``forced[k] = (seconds, metrics)`` of forcing boundary k's output
    from a cold cache; returns each call's marginal ``(seconds,
    metrics)`` = its prefix minus its parent's prefix."""
    out = []
    for k, (sec, met) in enumerate(forced):
        p = parents[k]
        if p is None:
            out.append((sec, dict(met)))
        else:
            out.append((sec - forced[p][0], add_metrics(met, forced[p][1], -1)))
    return out


def run_metrics(spans: list) -> dict:
    """Spark totals of one run: every job of every span of the run."""
    out = empty_metrics()
    for s in spans:
        out = add_metrics(out, s.spark)
    return out


def check_job_ids(spans: list) -> None:
    """Every job a run launched must have been read back: job ids are
    allocated consecutively, so the ids of a single-threaded run's spans
    form one gap-free range."""
    ids = sorted(j for s in spans for j in s.job_ids)
    if ids and ids != list(range(ids[0], ids[-1] + 1)):
        missing = sorted(set(range(ids[0], ids[-1] + 1)) - set(ids))
        raise MissingJobError(f"jobs {missing[:10]} not attributed to a span")


def prefix_layer_metrics(spark, tracer: Tracer) -> dict[str, dict]:
    """Force the output of every boundary call of the tracer's spans,
    each from a cold cache, and attribute to each call's layer its
    marginal cost over the prefix it extends, plus the Spark work of the
    layer's own eager jobs. Returns ``{layer: {"exec_s", "spark"}}``."""
    spans = tracer.spans
    calls = [i for i in boundary_spans(spans) if spans[i].outputs]
    forced = []
    for i in calls:
        spark.catalog.clearCache()
        with tracer.span(f"force:{spans[i].name}", "force") as fs:
            for df in spans[i].outputs:
                df.write.format("noop").mode("overwrite").save()
        forced.append((fs.end - fs.start, fs.spark))
    spark.catalog.clearCache()
    # plan strings elide the fields of wide nodes (a MaxQuant table has
    # dozens of columns) unless this debug limit is raised
    key = "spark.sql.debug.maxToStringFields"
    saved = spark.conf.get(key, None)
    spark.conf.set(key, "100000")
    try:
        parents = prefix_parents(
            [[output_attrs(df) for df in spans[i].outputs] for i in calls],
            [[plan_attrs(df) for df in spans[i].inputs] for i in calls],
        )
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)
    out: dict[str, dict] = {}
    for s in spans:
        if s.layer in LAYER_MODULES:
            t = out.setdefault(s.layer, {"exec_s": 0.0, "spark": empty_metrics()})
            t["spark"] = add_metrics(t["spark"], s.spark)
    for i, (sec, met) in zip(calls, prefix_marginals(forced, parents)):
        t = out.setdefault(
            spans[i].layer, {"exec_s": 0.0, "spark": empty_metrics()}
        )
        t["exec_s"] += sec
        t["spark"] = add_metrics(t["spark"], met)
    return out
