"""Spans and per-layer counters for the traced run.

Spans are recorded from the benchmark's own code, around its calls into
each layer: one span per op, with ``construct``/``plan``/``exec`` children.
Each child runs under its own Spark job group, so the status store can
attribute jobs, stages, shuffle, spill, GC and Python-worker time to it.
The ``io`` memo/index-store functions and the ``SnapshotTable`` commit and
read methods are wrapped at module attribute level while tracing is on.
Nothing inside the engine package is edited.

With tracing off, :class:`NullTracer` stands in and adds no work.
"""

from __future__ import annotations

import contextlib
import os
import re
import statistics
import time


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def op(self, name):
        yield

    @contextlib.contextmanager
    def phase(self, name):
        yield

    def plan(self, df):
        return None


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


_NUM = re.compile(r"([0-9.]+)\s*(ms|s|m|h|min|B|KiB|MiB|GiB|TiB)?")
_UNIT = {
    None: 1.0, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
}


def _metric_value(text: str) -> float:
    """First number of a SQL metric string: '2.2 s', '432.0 B', or the
    multi-task form 'total (min, med, max ...)\\n2.2 s (...)'."""
    if text is None:
        return 0.0
    body = text.split("\n", 1)[1] if text.startswith("total") and "\n" in text else text
    m = _NUM.search(body)
    return float(m.group(1)) * _UNIT[m.group(2)] if m else 0.0


#: Python-worker plan nodes, attributed to the module whose kernel they
#: run by the output columns in their description
_PY_NODES = (
    ("operators.sectionizer", "FlatMapGroupsInPandas", "konten_calk"),
    ("sources.pdf", "MapInPandas", "page_text"),
    ("sources.excel", "MapInPandas", "col_no"),
)


class Tracer:
    """In-memory span recorder plus status-store harvesting."""

    enabled = True

    def __init__(self, spark, index_root: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.index_root = index_root
        self.spans: list[dict] = []
        self.ops: list[dict] = []  # one record per traced op
        self._stack: list[dict] = []
        self._seq = 0
        sql = spark._jsparkSession.sharedState().statusStore()
        #: SQL executions already looked at (execution ids are JVM-wide, so
        #: they do not start at 0 in a restarted session; count instead)
        self._seen_exec = sql.executionsCount()
        self._undo: list = []
        self._memo_stack: list[dict] = []
        self._in_publish = 0
        self._op: dict | None = None

    # ------------------------------------------------------------ spans

    def _open(self, name: str) -> dict:
        self._seq += 1
        span = {
            "id": self._seq,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.perf_counter(),
        }
        self._stack.append(span)
        return span

    def _close(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        self._stack.pop()
        self.spans.append(span)

    @contextlib.contextmanager
    def op(self, name):
        span = self._open(name)
        rec = {"op": name, "phases": {}, "events": []}
        self._op = rec
        try:
            yield
        finally:
            self._close(span)
            rec["wall_s"] = span["end"] - span["start"]
            self.ops.append(rec)
            self._op = None

    @contextlib.contextmanager
    def phase(self, name):
        group = f"etlbench-{self._seq + 1}"
        span = self._open(name)
        self.sc.setJobGroup(group, name)
        try:
            yield
        finally:
            self._close(span)
            self.sc.setJobGroup("etlbench-idle", "idle")
            ph = self._op["phases"].setdefault(name, _zero_phase())
            ph["s"] += span["end"] - span["start"]
            _add(ph, self._harvest(group))

    def plan(self, df):
        """Force physical planning inside the ``plan`` child span."""
        df._jdf.queryExecution().executedPlan()

    def _harvest(self, group: str) -> dict:
        """Jobs, stages and task metrics of one job group, plus the Python
        plan-node metrics of the SQL executions those jobs belong to."""
        out = _zero_phase()
        # the status store is fed by the asynchronous listener bus
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        job_ids = set(tracker.getJobIdsForGroup(group))
        out["jobs"] = len(job_ids)
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - a skipped stage has no attempt
                    continue
                out["stages"] += 1
                out["exec_run_s"] += sd.executorRunTime() / 1000.0
                out["gc_s"] += sd.jvmGcTime() / 1000.0
                out["tasks"] += sd.numTasks()
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        sql = self.spark._jsparkSession.sharedState().statusStore()
        count = sql.executionsCount()
        if count == self._seen_exec:
            return out
        new = sql.executionsList(self._seen_exec, count - self._seen_exec)
        self._seen_exec = count
        for j in range(new.size()):
            ex = new.apply(j)
            if not _scala_keys(ex.jobs()) & job_ids:
                continue
            values = sql.executionMetrics(ex.executionId())
            nodes = sql.planGraph(ex.executionId()).allNodes()
            for i in range(nodes.size()):
                node = nodes.apply(i)
                name, desc = node.name(), node.desc()
                if "Python" not in name and "Pandas" not in name and "Arrow" not in name:
                    continue
                module = next(
                    (m for m, n, col in _PY_NODES if name.startswith(n) and col in desc),
                    "other",
                )
                ms = node.metrics()
                for k in range(ms.size()):
                    m = ms.apply(k)
                    v = values.get(m.accumulatorId())
                    text = v.get() if not v.isEmpty() else None
                    if m.name() == "time to run Python workers":
                        out["python_s"][module] = out["python_s"].get(module, 0.0) + _metric_value(text)
                    elif m.name().startswith("data ") and "Python workers" in m.name():
                        out["python_bytes"][module] = out["python_bytes"].get(module, 0.0) + _metric_value(text)
        return out

    # ------------------------------------------------ layer-level wrappers

    def install(self, io_mod, snapshots_mod) -> None:
        """Wrap the io memo/index-store functions and the SnapshotTable
        commit/read methods; :meth:`uninstall` puts the originals back."""
        tr = self

        def patch(owner, attr, make):
            orig = getattr(owner, attr)
            setattr(owner, attr, make(orig))
            self._undo.append((owner, attr, orig))

        def memo(kind):
            def make(orig):
                def wrapped(*a, **kw):
                    frame = {"kind": kind, "publish": False, "append": False, "child_s": 0.0}
                    tr._memo_stack.append(frame)
                    t0 = time.perf_counter()
                    try:
                        with tr._layer(f"io.{orig.__name__}"):
                            return orig(*a, **kw)
                    finally:
                        dt = time.perf_counter() - t0
                        tr._memo_stack.pop()
                        if tr._memo_stack:
                            tr._memo_stack[-1]["child_s"] += dt
                        built = frame["publish"] or frame["append"]
                        tr._event(
                            "memo",
                            family=kind,
                            built=built,
                            append=frame["append"],
                            self_s=dt - frame["child_s"],
                        )
                return wrapped
            return make

        def lookup(orig):
            def wrapped(spark, tag, key):
                with tr._layer("io.index_store_lookup"):
                    got = orig(spark, tag, key)
                if not tr._in_publish:
                    tr._event("lookup", hit=got is not None)
                return got
            return wrapped

        def publish(orig):
            def wrapped(*a, **kw):
                if tr._memo_stack:
                    tr._memo_stack[-1]["publish"] = True
                before = dir_bytes(tr.index_root)
                tr._in_publish += 1
                t0 = time.perf_counter()
                try:
                    with tr._layer("io.index_store_publish"):
                        return orig(*a, **kw)
                finally:
                    dt = time.perf_counter() - t0
                    tr._in_publish -= 1
                    tr._event("publish", s=dt, bytes=dir_bytes(tr.index_root) - before)
            return wrapped

        def commit(kind):
            def make(orig):
                def wrapped(table, df, *a, **kw):
                    base = kw.get("base_version")
                    in_store = table.path.startswith(tr.index_root)
                    if in_store and base is not None and tr._memo_stack:
                        tr._memo_stack[-1]["append"] = True
                    prev = table.current_version()
                    old = set(table.files(prev)) if prev is not None else set()
                    before = dir_bytes(tr.index_root) if in_store else 0
                    t0 = time.perf_counter()
                    with tr._layer(f"sources.snapshots.{orig.__name__}"):
                        v = orig(table, df, *a, **kw)
                    dt = time.perf_counter() - t0
                    new = [f for f in table.files(v) if f not in old] if v is not None else []
                    nbytes = sum(os.path.getsize(os.path.join(table.path, f)) for f in new)
                    tr._event(kind, s=dt, files=len(new), bytes=nbytes, store=in_store)
                    if in_store and base is not None:
                        tr._event("publish", s=dt, bytes=dir_bytes(tr.index_root) - before)
                    return v
                return wrapped
            return make

        def read(orig):
            def wrapped(table, spark, version=None, prune=None, prune_keys=None):
                t0 = time.perf_counter()
                with tr._layer("sources.snapshots.read"):
                    df = orig(table, spark, version, prune, prune_keys)
                dt = time.perf_counter() - t0
                v = table.current_version() if version is None else version
                total = len(table.files(v))
                kept = len(table.files(v, prune, prune_keys))
                tr._event("read", s=dt, files=kept, total=total,
                          store=table.path.startswith(tr.index_root))
                return df
            return wrapped

        patch(io_mod, "memo_checkpoint", memo("memo"))
        patch(io_mod, "memo_checkpoint_rowwise", memo("rowwise"))
        patch(io_mod, "index_store_lookup", lookup)
        patch(io_mod, "index_store_publish", publish)
        cls = snapshots_mod.SnapshotTable
        patch(cls, "commit_append", commit("commit"))
        patch(cls, "commit_replace", commit("commit"))
        patch(cls, "commit_merge", commit("merge"))
        patch(cls, "read", read)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def _event(self, kind: str, **kw) -> None:
        if self._op is not None:
            self._op["events"].append({"kind": kind, **kw})

    @contextlib.contextmanager
    def _layer(self, name: str):
        """A span around one wrapped layer call, when an op is running
        (calls made by the checks between ops are not traced)."""
        if self._op is None:
            yield
            return
        span = self._open(name)
        try:
            yield
        finally:
            self._close(span)

    # -------------------------------------------------------- reduction

    def self_times(self) -> dict:
        """Span name -> summed self time (duration minus the part covered
        by child spans)."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"] - child.get(s["id"], 0.0)
        return out


def _scala_keys(m) -> set[int]:
    keys = set()
    it = m.keysIterator()
    while it.hasNext():
        keys.add(int(it.next()))
    return keys


def _zero_phase() -> dict:
    return {
        "s": 0.0, "jobs": 0, "stages": 0, "exec_run_s": 0.0, "gc_s": 0.0, "tasks": 0,
        "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
        "python_s": {}, "python_bytes": {},
    }


def _add(acc: dict, more: dict) -> None:
    for k, v in more.items():
        if k == "s":
            continue
        if isinstance(v, dict):
            for kk, vv in v.items():
                acc[k][kk] = acc[k].get(kk, 0.0) + vv
        else:
            acc[k] += v


# ----------------------------------------------------- per-layer metrics

_PIPE = ("construct_s", "plan_s", "exec_s", "jobs", "stages", "shuffle_read_bytes",
         "shuffle_write_bytes", "spill_bytes", "python_s", "executor_run_s")

#: every per-layer metric and its unit; each workload reports all of them
#: (0 where the layer does no work on that workload)
UNITS: dict[str, str] = {
    "session.start_s": "s",
    "sources.pdf.python_s": "s",
    "sources.pdf.python_bytes": "B",
    "sources.excel.python_s": "s",
    "operators.sectionizer.python_s": "s",
    **{f"operators.ingest.{m}": u for m, u in (
        ("construct_s", "s"), ("plan_s", "s"), ("exec_s", "s"),
        ("jobs", "count"), ("stages", "count"), ("shuffle_bytes", "B"))},
    "sources.snapshots.commit_s": "s",
    "sources.snapshots.merge_s": "s",
    "sources.snapshots.files_written": "count",
    "sources.snapshots.bytes_written_per_input_byte": "ratio",
    "sources.snapshots.read_s": "s",
    "sources.snapshots.files_scanned_per_read": "count",
    "sources.snapshots.files_pruned_ratio": "ratio",
    "io.memo.hits": "count",
    "io.memo.builds": "count",
    "io.memo.build_s": "s",
    "io.index_store.lookups": "count",
    "io.index_store.build.hit_ratio": "ratio",
    "io.index_store.increment.hit_ratio": "ratio",
    "io.index_store.publish_s": "s",
    "io.index_store.publish_bytes": "B",
    "io.rowwise_append_ratio": "ratio",
    **{f"operators.pipelines.{op}.{m}": ("s" if m.endswith("_s") else "B" if m.endswith("bytes") else "count")
       for op in ("build", "increment") for m in _PIPE},
    "spark.executor_run_s_per_wall_s": "ratio",
    "spark.gc_s": "s",
    "spark.tasks": "count",
    "bench.op1.tracing_overhead_s": "s",
    "bench.op2.tracing_overhead_s": "s",
}


def _med(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def _phase_total(rec: dict, key: str) -> float:
    return sum(ph[key] for ph in rec["phases"].values())


def _python(rec: dict, key: str, module: str | None = None) -> float:
    """Python-worker metric summed over an op's phases, for one module or
    for all of them."""
    return sum(
        v
        for ph in rec["phases"].values()
        for m, v in ph[key].items()
        if module is None or m == module
    )


def layer_metrics(tr, ops, session_starts, overhead, workload) -> dict:
    """Reduce the traced ops to the per-layer metrics. Times and counts are
    per op (median over the traced ops of that type) unless the name says
    otherwise; ratios are over all traced ops."""
    out = {k: 0.0 for k in UNITS}
    # only the first get_spark starts anything (the JVM and the session)
    out["session.start_s"] = session_starts[0]
    recs = tr.ops if isinstance(tr, Tracer) else []
    by_op: dict[str, list] = {}
    for r in recs:
        by_op.setdefault(r["op"], []).append(r)

    def phase_s(rs, name):
        return _med(r["phases"].get(name, {"s": 0.0})["s"] for r in rs)

    ingest = by_op.get("ingest", [])
    if ingest:
        for mod in ("sources.pdf", "sources.excel", "operators.sectionizer"):
            out[f"{mod}.python_s"] = _med(_python(r, "python_s", mod) for r in ingest)
        out["sources.pdf.python_bytes"] = _med(_python(r, "python_bytes", "sources.pdf") for r in ingest)
        for ph in ("construct", "plan", "exec"):
            out[f"operators.ingest.{ph}_s"] = phase_s(ingest, ph)
        out["operators.ingest.jobs"] = _med(_phase_total(r, "jobs") for r in ingest)
        out["operators.ingest.stages"] = _med(_phase_total(r, "stages") for r in ingest)
        out["operators.ingest.shuffle_bytes"] = _med(
            _phase_total(r, "shuffle_read_bytes") + _phase_total(r, "shuffle_write_bytes")
            for r in ingest
        )

    def events(rs, kind, store=None):
        return [
            e for r in rs for e in r["events"]
            if e["kind"] == kind and (store is None or e.get("store") == store)
        ]

    per_op = lambda rs, kind, key: _med(  # noqa: E731
        sum(e[key] for e in events([r], kind, False)) for r in rs
    )
    if ingest:
        out["sources.snapshots.commit_s"] = per_op(ingest, "commit", "s")
    if by_op.get("restate"):
        out["sources.snapshots.merge_s"] = per_op(by_op["restate"], "merge", "s")
    writes = events(recs, "commit", False) + events(recs, "merge", False)
    if writes:
        passes = max(1, len(by_op.get(ops[0], [])))
        out["sources.snapshots.files_written"] = sum(e["files"] for e in writes) / passes
        if workload.pass_input_bytes:
            # per pass, against the bytes that pass generated
            out["sources.snapshots.bytes_written_per_input_byte"] = (
                sum(e["bytes"] for e in writes) / passes / workload.pass_input_bytes
            )
    reads = events(recs, "read", False)
    if reads:
        out["sources.snapshots.read_s"] = _med(e["s"] for e in reads)
        out["sources.snapshots.files_scanned_per_read"] = sum(e["files"] for e in reads) / len(reads)
        total = sum(e["total"] for e in reads)
        out["sources.snapshots.files_pruned_ratio"] = 1 - sum(e["files"] for e in reads) / total if total else 0.0
    n_ops = max(1, len(recs))
    memo = events(recs, "memo")
    out["io.memo.hits"] = sum(not e["built"] for e in memo) / n_ops
    out["io.memo.builds"] = sum(e["built"] for e in memo) / n_ops
    out["io.memo.build_s"] = sum(e["self_s"] for e in memo if e["built"]) / n_ops
    out["io.index_store.lookups"] = len(events(recs, "lookup")) / n_ops
    for op in ("build", "increment"):
        lk = events(by_op.get(op, []), "lookup")
        out[f"io.index_store.{op}.hit_ratio"] = sum(e["hit"] for e in lk) / len(lk) if lk else 0.0
    pubs = events(recs, "publish")
    out["io.index_store.publish_s"] = sum(e["s"] for e in pubs) / n_ops
    out["io.index_store.publish_bytes"] = sum(e["bytes"] for e in pubs) / n_ops
    rowwise = [e for e in memo if e["family"] == "rowwise" and e["built"]]
    out["io.rowwise_append_ratio"] = (
        sum(e["append"] for e in rowwise) / len(rowwise) if rowwise else 0.0
    )
    for op in ("build", "increment"):
        rs = by_op.get(op, [])
        if not rs:
            continue
        for ph in ("construct", "plan", "exec"):
            out[f"operators.pipelines.{op}.{ph}_s"] = phase_s(rs, ph)
        for m in ("jobs", "stages", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            out[f"operators.pipelines.{op}.{m}"] = _med(_phase_total(r, m) for r in rs)
        out[f"operators.pipelines.{op}.python_s"] = _med(_python(r, "python_s") for r in rs)
        out[f"operators.pipelines.{op}.executor_run_s"] = _med(_phase_total(r, "exec_run_s") for r in rs)
    wall = sum(r["wall_s"] for r in recs)
    if wall:
        out["spark.executor_run_s_per_wall_s"] = sum(_phase_total(r, "exec_run_s") for r in recs) / wall
    out["spark.gc_s"] = sum(_phase_total(r, "gc_s") for r in recs) / n_ops
    out["spark.tasks"] = sum(_phase_total(r, "tasks") for r in recs) / n_ops
    out["bench.op1.tracing_overhead_s"] = overhead.get(ops[0], 0.0)
    out["bench.op2.tracing_overhead_s"] = overhead.get(ops[1], 0.0)
    return out
