"""Spark event-log parser and per-layer metrics for the traced run.

Jobs are attributed to the innermost driver span whose window holds the
job's submission time. One client thread issues every call, so the
window is enough; job descriptions are not (the engine sets them per
thread on its write pool and they leak onto later jobs), and the
engine's `build:*` descriptions are used only as sub-labels of jobs
already attributed to an `indexer.build` span.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from spans import Span


@dataclass
class Job:
    id: int
    submit: float  # seconds, wall clock
    end: float = 0.0
    desc: str = ""
    stages: list = field(default_factory=list)
    tasks: int = 0
    tasks_failed: int = 0
    task_s: float = 0.0  # executor run time summed over tasks
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    wait_s: float = 0.0  # summed task launch minus stage submission


def parse(path: str) -> list[Job]:
    """Jobs with their task totals, in submission order."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    stage_submit: dict[int, int] = {}  # epoch ms
    task_ends = []
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                j = Job(
                    e["Job ID"], e["Submission Time"] / 1000.0,
                    desc=props.get("spark.job.description") or "",
                    stages=list(e["Stage IDs"]),
                )
                jobs[j.id] = j
                for s in j.stages:
                    stage_job[s] = j.id
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                if "Submission Time" in info:
                    stage_submit[info["Stage ID"]] = info["Submission Time"]
            elif kind == "SparkListenerTaskEnd":
                task_ends.append(e)
    for e in task_ends:
        jid = stage_job.get(e["Stage ID"])
        if jid is None:
            continue
        j = jobs[jid]
        info = e["Task Info"]
        m = e.get("Task Metrics") or {}
        j.tasks += 1
        if e["Task End Reason"].get("Reason") != "Success" or info.get("Failed"):
            j.tasks_failed += 1
        j.task_s += m.get("Executor Run Time", 0) / 1000.0
        j.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        j.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        submitted = stage_submit.get(e["Stage ID"])
        if submitted is not None:
            j.wait_s += max(0, info["Launch Time"] - submitted) / 1000.0
    return sorted(jobs.values(), key=lambda j: (j.submit, j.id))


class Attribution:
    """Jobs attributed to spans; totals over span subtrees."""

    def __init__(self, spans: list[Span], jobs: list[Job]):
        self.children: dict[int, list[Span]] = {}
        for s in spans:
            if s.parent is not None:
                self.children.setdefault(s.parent, []).append(s)
        depth = {}
        for s in spans:  # parents are recorded before their children
            depth[s.id] = 0 if s.parent is None else depth[s.parent] + 1
        self.own: dict[int, list[Job]] = {}
        for j in jobs:
            # span ends are taken after the job's result arrived; the
            # event log stamps in whole milliseconds
            inside = [s for s in spans if s.start - 1e-3 <= j.submit <= s.end]
            if inside:
                s = max(inside, key=lambda s: (depth[s.id], s.start))
                self.own.setdefault(s.id, []).append(j)

    def subtree(self, s: Span) -> list[Span]:
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(self.children.get(x.id, []))
        return out

    def jobs(self, s: Span) -> list[Job]:
        return [j for x in self.subtree(s) for j in self.own.get(x.id, [])]

    def within(self, root: Span, name: str) -> list[Span]:
        return [x for x in self.subtree(root) if x.name == name]

    def uncovered(self, s: Span) -> float:
        """Span time during which none of its jobs ran (driver time)."""
        iv = sorted((max(j.submit, s.start), min(j.end or s.end, s.end)) for j in self.jobs(s))
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in iv:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return max(0.0, s.dur - covered)


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _per(total: float, n: int) -> float:
    return total / n if n else 0.0


BUILD_WRITE_LABELS = ("build:docs-write", "build:seg-meta-write", "build:postings-write", "build:term-stats")


def layer_metrics(
    spans: list[Span], jobs: list[Job], counters: dict, text_bytes: int,
    session_start_s: float, table_bytes: dict[str, int],
) -> dict[str, tuple[float, str]]:
    """Per-layer metrics over the whole run, set-up included
    (name → (value, unit)). `text_bytes` is the text behind every
    `indexer.build` span of the run."""
    at = Attribution(spans, jobs)

    def named(name):
        return [s for s in spans if s.name == name]

    builds = named("indexer.build")
    merges = named("indexer.merge")
    deletes = named("indexer.delete")
    commits = named("streaming.commit")
    queries = named("query")
    boolq = [q for q in queries if q.attrs["cls"] in ("bool", "phrase")]
    bm25q = [q for q in queries if q.attrs["cls"] in ("bm25", "bm25_pruned")]

    def job_sum(ss, attr, label=None):
        return sum(
            getattr(j, attr)
            for s in ss
            for j in at.jobs(s)
            if label is None or j.desc in label
        )

    def exec_spans(qs, name):
        return [x for q in qs for x in at.within(q, name)]

    lookups = [x for q in queries for x in at.within(q, "storage.term_lookup")]
    plans = [x for q in queries for x in at.within(q, "queries.plan")]
    requested = counters.get("storage.keys_requested", 0)
    forwarded = counters.get("storage.keys_forwarded", 0)
    n_tasks = sum(j.tasks for j in jobs)
    out = {
        "session.start_s": (session_start_s, "s"),
        "indexer.build_s": (_mean(s.dur for s in builds), "s"),
        "indexer.tokenize_task_s": (_per(job_sum(builds, "task_s", ("build:tokenize+stats",)), len(builds)), "s"),
        "indexer.write_task_s": (_per(job_sum(builds, "task_s", BUILD_WRITE_LABELS), len(builds)), "s"),
        "indexer.driver_s": (_mean(at.uncovered(s) for s in builds), "s"),
        "indexer.shuffle_bytes_per_text_byte": (_per(job_sum(builds, "shuffle_write_bytes"), text_bytes), "ratio"),
        "indexer.merge_s": (_mean(s.dur for s in merges), "s"),
        "indexer.merge_task_s": (_per(job_sum(merges, "task_s"), len(merges)), "s"),
        "indexer.merge_shuffle_bytes": (_per(job_sum(merges, "shuffle_write_bytes"), len(merges)), "B"),
        "indexer.delete_s": (_mean(s.dur for s in deletes), "s"),
        "storage.term_lookup_s": (_per(sum(s.dur for s in lookups), len(queries)), "s"),
        "storage.term_lookup_hit_ratio": (_per(requested - forwarded, requested), "ratio"),
        "storage.input_bytes_per_query": (_per(job_sum(queries, "input_bytes"), len(queries)), "B"),
        "queries.plan_s": (
            _mean(p.dur - sum(c.dur for c in at.within(p, "storage.term_lookup")) for p in plans), "s"
        ),
        "executor.exec_s": (_mean(s.dur for s in exec_spans(boolq, "executor.exec")), "s"),
        "executor.jobs_per_query": (_per(sum(len(at.jobs(q)) for q in boolq), len(boolq)), "count"),
        "executor.tasks_per_query": (_per(job_sum(boolq, "tasks"), len(boolq)), "count"),
        "executor.task_s_per_query": (_per(job_sum(boolq, "task_s"), len(boolq)), "s"),
        "executor.shuffle_bytes_per_query": (_per(job_sum(boolq, "shuffle_write_bytes"), len(boolq)), "B"),
        "executor.driver_s": (_mean(at.uncovered(q) for q in boolq), "s"),
        "bm25.exec_s": (_mean(s.dur for s in exec_spans(bm25q, "bm25.exec")), "s"),
        "bm25.jobs_per_query": (_per(sum(len(at.jobs(q)) for q in bm25q), len(bm25q)), "count"),
        "bm25.tasks_per_query": (_per(job_sum(bm25q, "tasks"), len(bm25q)), "count"),
        "bm25.task_s_per_query": (_per(job_sum(bm25q, "task_s"), len(bm25q)), "s"),
        "bm25.input_bytes_per_query": (_per(job_sum(bm25q, "input_bytes"), len(bm25q)), "B"),
        "streaming.commit_s": (_mean(s.dur for s in commits), "s"),
        "streaming.commit_self_s": (
            _mean(c.dur - sum(b.dur for b in at.within(c, "indexer.build")) for c in commits), "s"
        ),
        "streaming.jobs_per_commit": (_per(sum(len(at.jobs(c)) for c in commits), len(commits)), "count"),
        "spark.task_wait_s": (_per(sum(j.wait_s for j in jobs), n_tasks), "s"),
        "spark.tasks_failed": (float(sum(j.tasks_failed for j in jobs)), "count"),
        # counts beside the timings
        "indexer.builds": (float(len(builds)), "count"),
        "indexer.merges": (float(len(merges)), "count"),
        "indexer.deletes": (float(len(deletes)), "count"),
        "streaming.commits": (float(len(commits)), "count"),
        "queries.count": (float(len(queries)), "count"),
        "spark.jobs": (float(len(jobs)), "count"),
        "spark.tasks": (float(n_tasks), "count"),
    }
    for table in ("postings", "docs", "seg_meta", "term_stats"):
        out[f"storage.bytes.{table}"] = (float(table_bytes.get(table, 0)), "B")
    return out
