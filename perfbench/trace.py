"""Measurement plumbing kept in the benchmark: host noise, peak RSS of the
Spark process tree, spans with one Spark job group per layer call, and the
Spark event-log reader that turns job, stage, task and SQL-node metrics into
per-layer numbers."""

from __future__ import annotations

import glob
import json
import os
import sys
import time
from contextlib import contextmanager

# physical operators that cross into Python workers
PYTHON_NODES = ('ArrowEvalPython', 'BatchEvalPython', 'MapInArrow', 'MapInPandas',
                'PythonMapInArrow', 'FlatMapGroupsInPandas', 'FlatMapGroupsInArrow',
                'FlatMapCoGroupsInPandas', 'FlatMapGroupsInPandasWithState',
                'ArrowWindowPython', 'AggregateInPandas')
JOIN_NODES = ('BroadcastHashJoin', 'SortMergeJoin', 'ShuffledHashJoin',
              'BroadcastNestedLoopJoin', 'CartesianProduct')
CATALYST_PHASES = ('parsing', 'analysis', 'optimization', 'planning')


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the first line of /proc/stat."""
    with open('/proc/stat') as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def _loadavg() -> list[float]:
    with open('/proc/loadavg') as f:
        return [float(v) for v in f.read().split()[:3]]


class Noise:
    """Host noise over a run: nproc, loadavg at both ends and CPU steal %,
    so a co-tenant steal burst can be told apart from a regression."""

    def __init__(self):
        self.load0 = _loadavg()
        self.steal0, self.total0 = _cpu_ticks()

    def record(self) -> dict:
        steal1, total1 = _cpu_ticks()
        dt = max(1, total1 - self.total0)
        return {'nproc': os.cpu_count(), 'loadavg_start': self.load0,
                'loadavg_end': _loadavg(),
                'steal_pct': round(100.0 * (steal1 - self.steal0) / dt, 3)}


def descendants(root: int) -> list[int]:
    """PIDs of every live process below ``root``, from ``/proc``."""
    children: dict[int, list[int]] = {}
    for stat in glob.glob('/proc/[0-9]*/stat'):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(')', 1)[1].split()
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append(int(stat.split('/')[2]))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and every live process
    below it (the Spark JVM, the Python daemon and workers), each with its
    reaped children. Time the hypervisor steals is charged to no process."""
    ticks = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f'/proc/{pid}/stat') as f:
                fields = f.read().rsplit(')', 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf('SC_CLK_TCK')


def _hwm_kb(pid: int) -> int:
    try:
        with open(f'/proc/{pid}/status') as f:
            for line in f:
                if line.startswith('VmHWM:'):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Summed peak RSS (``VmHWM``) of every live process this one started:
    the Spark JVM and its Python workers. Read once, at the end, instead of
    sampling, so no thread competes with the driver for the interpreter."""
    return sum(_hwm_kb(p) for p in descendants(os.getpid())) / 1024.0


class Tracer:
    """Spans recorded around the benchmark's calls into each layer. Every
    span also sets a Spark job group named after its path, so the event log
    attributes jobs to the layer call that caused them."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        path = f'{parent}/{name}' if parent else name
        self._stack.append(path)
        self.sc.setJobGroup(path, name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent, parent.rsplit('/', 1)[-1])
            else:
                self.sc.setLocalProperty('spark.jobGroup.id', None)
            self.spans.append({'name': path, 'parent': parent, 't0': t0, 't1': t1})

    def get(self, path: str) -> dict | None:
        return next((s for s in self.spans if s['name'] == path), None)

    def self_times(self) -> dict[str, float]:
        """Span duration minus the part covered by its direct children."""
        out = {}
        for s in self.spans:
            kids = sorted((c['t0'], c['t1']) for c in self.spans if c['parent'] == s['name'])
            out[s['name']] = (s['t1'] - s['t0']) - _union_length(kids)
        return out

    def dump(self, stream=sys.stderr) -> None:
        selft = self.self_times()
        for s in sorted(self.spans, key=lambda s: s['t0']):
            depth = s['name'].count('/')
            print(f"span {'  ' * depth}{s['name'].rsplit('/', 1)[-1]}: "
                  f"{s['t1'] - s['t0']:.4f}s self {selft[s['name']]:.4f}s", file=stream)


def _union_length(intervals) -> float:
    total, end = 0.0, float('-inf')
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def catalyst_ms(df) -> float:
    """Catalyst phase time of one DataFrame's query execution, from
    ``queryExecution().tracker()``."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    for p in CATALYST_PHASES:
        opt = phases.get(p)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total


def eventlog_conf(log_dir: str) -> dict:
    """Plain-JSON event log: Spark 4.1 defaults to zstd rolling logs, which
    no installed Python module can read."""
    return {'spark.eventLog.enabled': 'true',
            'spark.eventLog.dir': 'file://' + os.path.abspath(log_dir),
            'spark.eventLog.compress': 'false',
            'spark.eventLog.rolling.enabled': 'false'}


def _walk_plan(info, out):
    out.append(info)
    for child in info.get('children', []):
        _walk_plan(child, out)
    return out


class EventLog:
    """Jobs, stages, tasks and SQL-node accumulators of one application,
    read from its (closed) event log."""

    def __init__(self, log_dir: str):
        files = [f for f in glob.glob(os.path.join(log_dir, '*')) if os.path.isfile(f)]
        if len(files) != 1:
            raise RuntimeError(f'expected one event log in {log_dir}, found {files}')
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.stages_done: set[tuple[int, int]] = set()
        self.tasks: list[dict] = []
        self.accum: dict[int, float] = {}
        self.exec_nodes: dict[int, list[dict]] = {}
        with open(files[0]) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e['Event']
        if kind == 'SparkListenerJobStart':
            props = e.get('Properties') or {}
            exec_id = props.get('spark.sql.execution.id')
            self.jobs[e['Job ID']] = {
                'group': props.get('spark.jobGroup.id'),
                'exec_id': int(exec_id) if exec_id is not None else None,
                't0': e['Submission Time'] / 1000.0, 't1': None}
            for sid in e['Stage IDs']:
                self.stage_job[sid] = e['Job ID']
        elif kind == 'SparkListenerJobEnd':
            self.jobs[e['Job ID']]['t1'] = e['Completion Time'] / 1000.0
        elif kind == 'SparkListenerStageCompleted':
            info = e['Stage Info']
            self.stages_done.add((info['Stage ID'], info['Stage Attempt ID']))
        elif kind == 'SparkListenerTaskEnd':
            info, metrics = e['Task Info'], e.get('Task Metrics') or {}
            if info.get('Failed') or info.get('Killed'):
                return
            self.tasks.append({'stage': e['Stage ID'], 'm': metrics})
            for acc in info.get('Accumulables', []):
                if acc.get('Metadata') == 'sql' and 'Update' in acc:
                    self.accum[acc['ID']] = self.accum.get(acc['ID'], 0.0) + float(acc['Update'])
        elif kind.endswith('SparkListenerDriverAccumUpdates'):
            for acc_id, value in e['accumUpdates']:
                self.accum[acc_id] = self.accum.get(acc_id, 0.0) + float(value)
        elif kind.endswith('SparkListenerSQLExecutionStart') or \
                kind.endswith('SparkListenerSQLAdaptiveExecutionUpdate'):
            nodes = _walk_plan(e['sparkPlanInfo'], [])
            self.exec_nodes.setdefault(e['executionId'], []).extend(nodes)

    def job_ids(self, group_prefix: str) -> list[int]:
        return [j for j, v in self.jobs.items()
                if v['group'] and (v['group'] == group_prefix
                                   or v['group'].startswith(group_prefix + '/'))]

    def covered_s(self, t0: float, t1: float) -> float:
        """Wall time inside [t0, t1] during which at least one job ran."""
        spans = [(max(t0, v['t0']), min(t1, v['t1'])) for v in self.jobs.values()
                 if v['t1'] is not None and v['t1'] > t0 and v['t0'] < t1]
        return _union_length(spans)

    def _node_metric(self, exec_ids, name_match, metric: str) -> list[float]:
        """Per-node totals of one SQL metric over the nodes whose name
        matches. AQE re-plans report the same node again with the same
        accumulator, so accumulators are de-duplicated."""
        seen, out = set(), []
        for ex in exec_ids:
            for node in self.exec_nodes.get(ex, []):
                if not name_match(node['nodeName']):
                    continue
                for m in node.get('metrics', []):
                    if m['name'] == metric and m['accumulatorId'] not in seen:
                        seen.add(m['accumulatorId'])
                        out.append(self.accum.get(m['accumulatorId'], 0.0))
        return out

    def layer_stats(self, group_prefix: str, cores: int, wall_s: float) -> dict:
        jobs = set(self.job_ids(group_prefix))
        stage_ids = {s for s, j in self.stage_job.items() if j in jobs}
        done = {(s, a) for s, a in self.stages_done if s in stage_ids}
        tasks = [t['m'] for t in self.tasks if t['stage'] in stage_ids]

        def tsum(*keys):
            total = 0.0
            for m in tasks:
                v = m
                for k in keys:
                    v = v.get(k, 0) if isinstance(v, dict) else 0
                total += v or 0
            return total

        run_s = tsum('Executor Run Time') / 1e3
        exec_ids = {self.jobs[j]['exec_id'] for j in jobs}
        is_python = lambda n: any(n.startswith(p) for p in PYTHON_NODES)  # noqa: E731
        return {
            'spark.jobs': len(jobs),
            'spark.stages': len(done),
            'spark.tasks': len(tasks),
            'spark.shuffle_write_mb': tsum('Shuffle Write Metrics', 'Shuffle Bytes Written') / 1e6,
            'spark.shuffle_read_mb': (tsum('Shuffle Read Metrics', 'Remote Bytes Read')
                                      + tsum('Shuffle Read Metrics', 'Local Bytes Read')) / 1e6,
            'spark.spill_mb': (tsum('Memory Bytes Spilled') + tsum('Disk Bytes Spilled')) / 1e6,
            'spark.executor_run_s': run_s,
            'spark.executor_cpu_s': tsum('Executor CPU Time') / 1e9,
            'spark.gc_s': tsum('JVM GC Time') / 1e3,
            'spark.slot_util': run_s / (cores * wall_s) if wall_s > 0 else 0.0,
            'functions.python_rows': sum(self._node_metric(exec_ids, is_python, 'number of output rows')),
            'functions.python_mb_sent': sum(self._node_metric(
                exec_ids, is_python, 'data sent to Python workers')) / 1e6,
            'functions.python_mb_returned': sum(self._node_metric(
                exec_ids, is_python, 'data returned from Python workers')) / 1e6,
        }

    def join_output_rows(self, group_prefix: str) -> float:
        """Output rows of the largest join node in the group's jobs."""
        exec_ids = {self.jobs[j]['exec_id'] for j in self.job_ids(group_prefix)}
        rows = self._node_metric(exec_ids, lambda n: n in JOIN_NODES, 'number of output rows')
        return max(rows, default=0.0)
