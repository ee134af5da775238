"""Outside-in tracing for the benchmark's traced run.

- ``Tracer`` keeps spans (name, start, end, parent, run id) in memory
  and writes them once at the end. ``Tracer.wrap_all`` replaces the
  public engine functions in ``WRAPPED`` with timing wrappers; it must
  run before the query registry imports their callers, because several
  modules bind functions by name at import time.
- ``read_event_log`` folds an uncompressed Spark event log into
  per-job-group task metrics.
- ``lob_layers`` / ``dedup_layers`` measure the module layers of the
  two workloads from outside: the first materialises prefixes of the
  ``plans.workflows`` chains, the second counts what the dedup and
  similarity queries returned.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

# (module, function) pairs timed in the traced run
WRAPPED = (
    ("dissertation_iceberg_spark.session", "pin"),
    ("dissertation_iceberg_spark.io", "lob_events"),
    ("dissertation_iceberg_spark.operators.iceberg", "asof_next_within"),
    ("dissertation_iceberg_spark.operators.order_imbalance", "oi_expr"),
    ("dissertation_iceberg_spark.operators.order_imbalance", "densify"),
    ("dissertation_iceberg_spark.operators.order_imbalance", "with_returns"),
    ("dissertation_iceberg_spark.operators.regression", "ols_fit"),
    ("dissertation_iceberg_spark.operators.strategy", "cross_sectional_select"),
    ("dissertation_iceberg_spark.operators.strategy", "portfolio_pnl"),
    ("dissertation_iceberg_spark.operators.dedup", "jaccard_near_dup_pairs"),
    ("dissertation_iceberg_spark.operators.dedup", "minhash_lsh_candidates"),
    ("dissertation_iceberg_spark.operators.dedup", "connected_components"),
)


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()
        # last (args, result) of each wrapped function
        self.captured: dict[str, tuple] = {}

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter() - self._t0,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def wrap_all(self) -> None:
        for mod_name, attr in WRAPPED:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            label = f"{mod_name.split('.', 1)[1]}.{attr}"

            def wrapper(*args, fn_=fn, label_=label, **kwargs):
                if not self.enabled:
                    return fn_(*args, **kwargs)
                with self.span(label_):
                    out = fn_(*args, **kwargs)
                self.captured[label_] = (args, out)
                return out

            setattr(mod, attr, functools.wraps(fn)(wrapper))

    def under(self, ancestor: dict, name: str | None = None) -> list[dict]:
        """Spans nested (at any depth) inside ``ancestor``."""
        inside = {ancestor["id"]}
        out = []
        for s in self.spans[ancestor["id"] + 1:]:
            if s["parent"] in inside:
                inside.add(s["id"])
                if name is None or s["name"] == name:
                    out.append(s)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)


def dur(spans: list[dict]) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def _event_lines(log_dir: str):
    """Lines of the one application log in ``log_dir``: a plain file,
    or a rolling ``eventlog_v2_*`` directory of ``events_<n>_*`` parts."""
    (app,) = os.listdir(log_dir)
    path = os.path.join(log_dir, app)
    parts = [path]
    if os.path.isdir(path):
        parts = sorted(
            (os.path.join(path, p) for p in os.listdir(path) if p.startswith("events_")),
            key=lambda p: int(os.path.basename(p).split("_")[1]),
        )
    for part in parts:
        with open(part) as f:
            yield from f


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, failed tasks and the summed
    task metrics (seconds and bytes)."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for line in _event_lines(log_dir):
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
            groups[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            group = (ev.get("Properties") or {}).get(
                "spark.jobGroup.id", stage_group.get(sid, "")
            )
            stage_group[sid] = group
            groups[group]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            g = groups[stage_group.get(ev["Stage ID"], "")]
            g["tasks"] += 1
            if ev.get("Task End Reason", {}).get("Reason") != "Success":
                g["failed_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            g["exec_run_s"] += m.get("Executor Run Time", 0) / 1e3
            g["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            g["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
            g["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            g["spill_b"] += m.get("Disk Bytes Spilled", 0)
            g["input_b"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    return groups


def lob_layers(spark, sf_dir: str, sink, tracer: Tracer) -> dict:
    """Module prefix spans along the E1 and E3 chains of
    ``plans.workflows``. Each prefix runs unpinned to a noop sink, so a
    layer's self time is its prefix minus the previous prefix."""
    from pyspark.sql import functions as F

    from dissertation_iceberg_spark.io import lob_events
    from dissertation_iceberg_spark.operators.regression import ols_fit
    from dissertation_iceberg_spark.plans.workflows import (
        oi_frame,
        portfolio_strategy_workflow,
        tagged_lob,
    )

    scan = lob_events(spark, sf_dir)
    t_scan = sink("io.scan", scan)
    tagged = tagged_lob(spark, sf_dir)
    t_tag = sink("operators.iceberg.tag", tagged)
    probes, matched = tagged.agg(F.count("iceberg"), F.sum("iceberg")).first()
    frame = oi_frame(spark, sf_dir, 3600)
    t_oi = sink("operators.order_imbalance.oi", frame)
    with tracer.span("layer:operators.regression.ols") as s:
        ols_fit(
            frame.filter(F.col("fut_log_ret").isNotNull()),
            ["oi_vis", "oi_ib", "oi_hid"],
            "fut_log_ret",
        )
    pnl = portfolio_strategy_workflow(spark, sf_dir)
    legs = tracer.captured["operators.strategy.cross_sectional_select"][0][0]
    t_legs = sink("operators.strategy.input", legs)
    t_pnl = sink("operators.strategy.pnl", pnl)
    return {
        "io.scan_s": t_scan,
        "io.rows": scan.count(),
        "operators.iceberg.tag_s": t_tag - t_scan,
        "operators.iceberg.match_share": (matched or 0) / max(1, probes),
        "operators.order_imbalance.oi_s": t_oi - t_tag,
        "operators.order_imbalance.bins": frame.count(),
        "operators.regression.ols_s": (s["end"] - s["start"]) - t_oi,
        "operators.strategy.pnl_s": t_pnl - t_legs,
    }


def dedup_layers(tracer: Tracer, cold: dict, results: dict, sf_dir: str) -> dict:
    """Dedup and similarity counts at the operator boundaries. The LSH
    candidates are the rows ``minhash_lsh_candidates`` returned; the
    verified ones are those that ``jaccard_near_dup_pairs`` also
    returned (exact Jaccard at the registered threshold), so the yield
    is the share of candidate work that found a near duplicate."""
    import numpy as np
    import pyarrow.parquet as pq

    from dissertation_iceberg_spark.queries.extensions import PAIR_MOD

    key = ["id_a", "id_b"]
    candidates = results["minhash_lsh_pairs"][key]
    verified = len(candidates.merge(results["jaccard_near_dups"][key], on=key))
    cc = tracer.under(cold, "operators.dedup.connected_components")
    pins = sum(len(tracer.under(s, "session.pin")) for s in cc)
    ids = np.sort(
        pq.read_table(os.path.join(sf_dir, "embeddings.parquet"), columns=["vec_id"])[
            "vec_id"
        ].to_numpy()
    )
    # embedding_near_dups scores every (a, b) with a % PAIR_MOD == 0, a < b
    scored = int((ids.size - np.searchsorted(ids, ids[ids % PAIR_MOD == 0], "right")).sum())
    return {
        "operators.dedup.candidate_pairs": len(candidates),
        "operators.dedup.verified_pairs": verified,
        "operators.dedup.pair_yield": verified / max(1, len(candidates)),
        "operators.dedup.cc_s": dur(cc),
        # each call pins the edge list and the seed labels, then one
        # label frame per sweep
        "operators.dedup.cc_sweeps": pins - 2 * len(cc),
        "operators.similarity.pairs_scored": scored,
        "operators.similarity.pairs_kept": len(results["embedding_near_dups"]),
    }
