"""Drain-loop benchmark: one driver, ``local[nproc]``, closed loop (batch
i+1 starts only after batch i's state commit and maintenance return).

    python3 perfbench/run.py --workload delete_churn --seed 1 --seconds 8 --trace 0

Run from the repository root. Inputs are generated from the seed before
anything is timed. ``--trace 0`` prints the end-to-end metrics; ``--trace
1`` runs an untraced and a traced lane over the same batches, and prints
the per-layer metrics and the tracing overhead. Human-readable
lines come first; the last stdout line is one JSON object. Every batch
is checked against the workload model; the process exits 1 on any
mismatch. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# the warm-up batch and timed batches up to the second compaction (batch 6)
MAX_BATCHES = 7


def process_age_s() -> float:
    """Seconds since this process started (kernel clock, 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def parse_args(argv):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Run:
    """One benchmark run: generated inputs, expectations and the checks."""

    def __init__(self, args, work: str):
        from workloads import WORKLOADS, generate

        self.args = args
        self.w = WORKLOADS[args.workload]
        self.work = work
        self.inputs = os.path.join(work, "inputs")
        t0 = time.perf_counter()
        self.robots, self.expected = generate(self.w, args.seed, MAX_BATCHES, self.inputs)
        self.gen_s = time.perf_counter() - t0
        self.cores = os.cpu_count() or 1

    def paths(self, i: int) -> tuple[str, str | None]:
        frontier = os.path.join(self.inputs, f"frontier_{i}.parquet")
        delete = os.path.join(self.inputs, f"delete_{i}.parquet")
        return frontier, delete if self.w.delete_slices else None

    def check_batch(self, i: int, b) -> list[str]:
        """Mismatches between batch ``i``'s outputs and the model."""
        from workloads import digest

        exp = self.expected[i]
        rows = b.scheduled_rows()
        got = digest(rows["url"], rows["salt"], rows["fetch_order"])
        errs = [
            f"batch {i}: {k} {got[k]} != expected {exp[k]}"
            for k in ("n", "urls", "slots") if got[k] != exp[k]
        ]
        if b.parse is not None:
            errs += [
                f"batch {i}: parse {k} {b.parse[k]} != expected {exp[k]}"
                for k in ("docs", "links", "spans") if b.parse[k] != exp[k]
            ]
        scheduled = set(rows["url"])
        missing = [u for u in exp["rescheduled_deleted"] if u not in scheduled]
        if missing:
            errs.append(f"batch {i}: {len(missing)} re-discovered deleted URLs not rescheduled")
        b.digest = got
        return errs

    def loop(self, lanes: list) -> list[dict]:
        """Timed closed loop from batch 1 until ``--seconds`` of batch wall
        time. Each lane is a (drain, tracer) pair on its own state; the
        lanes run batch i in turn, so an untraced and a traced lane see
        the same warm-up. Checks run outside the timed window."""
        outs = [
            {"batch_s": [], "wall_s": [], "rows": 0, "committed": 0, "write_bytes": 0,
             "attempted": 0, "failed": 0, "errors": [], "digests": [], "counts": {},
             "rescheduled_deleted": 0, "rebuilds": 0, "batches": 0, "last": 0,
             "snap": max((s for s, _ in drain.history_events()), default=0)}
            for drain, _ in lanes
        ]
        i = 1
        while i < MAX_BATCHES and not self.done(i, sum(outs[0]["wall_s"])):
            for (drain, tracer), out in zip(lanes, outs):
                if not self.run_batch(i, drain, tracer, out):
                    return outs
            i += 1
        return outs

    def run_batch(self, i: int, drain, tracer, out: dict) -> bool:
        """Run, time and check batch ``i``; False if it raised."""
        from measure import listing_diff, store_listing

        frontier, delete = self.paths(i)
        before = store_listing(drain.store_root)
        out["attempted"] += 1
        tracer.batch = i
        t0 = time.perf_counter()
        try:
            with tracer.span("batch"):
                b = drain.run_batch(i, frontier, delete, tracer)
        except Exception:
            out["failed"] += 1
            out["errors"].append(f"batch {i} raised:\n{traceback.format_exc()}")
            return False
        out["wall_s"].append(time.perf_counter() - t0)
        out["batch_s"].append(b.committed_at - t0)
        out["write_bytes"] += listing_diff(before, store_listing(drain.store_root))["bytes_written"]
        errs = self.check_batch(i, b)
        b.release()
        if errs:
            out["failed"] += 1
            out["errors"] += errs
        out["rows"] += self.expected[i]["rows"]
        out["committed"] += b.counts["scheduled"]
        out["rescheduled_deleted"] += len(self.expected[i]["rescheduled_deleted"])
        out["digests"].append(b.digest)
        out["counts"] = _add(out["counts"], b.counts)
        if b.parse is not None:
            out["counts"] = _add(out["counts"], {f"parse.{k}": v for k, v in b.parse.items()})
        events = drain.history_events()
        out["rebuilds"] += sum(1 for s, e in events if s > out["snap"] and e and "rebuild" in e)
        out["snap"] = max((s for s, _ in events), default=out["snap"])
        out["batches"] += 1
        out["last"] = i
        return True

    def done(self, i: int, timed_s: float) -> bool:
        """Stop before batch ``i`` once ``--seconds`` are used and batch
        i-1 compacted, so every run ends on the same batch mix."""
        from workloads import compacts

        return timed_s >= self.args.seconds and compacts(i - 1)

    def check_run(self, drain, res: dict) -> list[str]:
        """Run-level mismatches: the final seen set's size, and on
        delete_churn that deleted URLs were rescheduled at all."""
        if not res["batches"]:
            return ["no batch completed"]
        errs = []
        seen, res["seen_rows"] = drain.seen_count()
        exp = self.expected[res["last"]]["seen_after"]
        if seen != exp:
            errs.append(f"final seen() size {seen} != expected {exp}")
        if self.w.delete_slices and res["rescheduled_deleted"] == 0:
            errs.append("no deleted URL was re-discovered and rescheduled")
        res["seen"] = seen
        return errs

    def setup(self, trace: bool, state_dir: str):
        """Session, fetcher ship, robots broadcast, SeenState open and one
        untimed, checked warm-up batch (batch 0). Returns (spark, drain,
        session seconds)."""
        import program
        from measure import NullTracer

        t0 = time.perf_counter()
        spark = program.start_session(self.cores, self.work, trace)
        session_s = time.perf_counter() - t0
        try:
            drain = program.Drain(spark, os.path.join(self.work, state_dir), self.w, self.robots)
            frontier, delete = self.paths(0)
            b = drain.run_batch(0, frontier, delete, NullTracer())
            errs = self.check_batch(0, b)
            b.release()
            if errs:
                raise RuntimeError("warm-up batch mismatch: " + "; ".join(errs))
        except BaseException:
            program.shutdown(spark)
            raise
        return spark, drain, session_s


def _add(a: dict, b: dict) -> dict:
    return {k: a.get(k, 0) + b.get(k, 0) for k in set(a) | set(b)}


def metric(value, unit: str, n: int = 1) -> dict:
    return {"value": value, "unit": unit, "n": n}


def run_untraced(run: Run) -> tuple[dict, list[str], int, int]:
    import program
    from measure import NullTracer, RssSampler, store_listing

    spark, drain, _ = run.setup(False, "state")
    setup_s = process_age_s() - run.gen_s
    try:
        with RssSampler() as rss:
            (res,) = run.loop([(drain, NullTracer())])
        errs = res["errors"] + run.check_run(drain, res)
        state_bytes = sum(store_listing(drain.store_root).values())
    finally:
        program.shutdown(spark)
    n = res["batches"]
    wall = sum(res["wall_s"])
    ok = res["attempted"] - res["failed"]
    metrics = {
        "setup_s": metric(setup_s, "s"),
        "urls_per_s": metric(res["rows"] / wall if wall else 0.0, "1/s", n),
        "batch_s.p50": metric(statistics.median(res["batch_s"]) if n else 0.0, "s", n),
        "peak_rss_mb": metric(rss.peak_kb / 1024, "MB"),
        "state_bytes_per_url": metric(state_bytes / max(res.get("seen", 0), 1), "B"),
        "write_bytes_per_url": metric(res["write_bytes"] / max(res["committed"], 1), "B", n),
        "ok_batch_ratio": metric(ok / res["attempted"] if res["attempted"] else 0.0, "ratio", res["attempted"]),
    }
    info = {
        "failed_batch_ratio": f"{res['failed']}/{res['attempted']}",
        "batches": n, "rows": res["rows"], "committed": res["committed"],
        "seen": res.get("seen"), "seen_rows": res.get("seen_rows"),
        "rebuilds": res["rebuilds"],
    }
    print(json.dumps({"info": info}), flush=True)
    return metrics, errs, res["attempted"], res["failed"]


# span name -> (self-time metric, shuffle-bytes metric)
SPAN_METRICS = {
    "batch": ("batch.self_s", None),
    "frontier.read": ("frontier.read_s", None),
    "politeness": ("politeness.robots_s", None),
    "prefilter": ("prefilter.probe_s", "prefilter.shuffle_bytes"),
    "exact": ("exact.s", "exact.shuffle_bytes"),
    "scheduler.topk": ("scheduler.topk_s", "scheduler.topk_shuffle_bytes"),
    "scheduler.drain": ("scheduler.drain_s", "scheduler.drain_shuffle_bytes"),
    "parse": ("parse.s", None),
    "commit": ("commit.s", None),
    "maint.compact": ("maint.compact_s", None),
    "maint.expire": ("maint.expire_s", None),
    "delete": ("delete.s", None),
    "apply_deletes": ("apply_deletes.s", None),
}
# span name -> (store-listing field, metric) pairs
SPAN_IO = {
    "commit": [("bytes_written", "commit.bytes_written"), ("files_written", "commit.files_written")],
    "maint.compact": [("bytes_written", "maint.bytes_written"), ("bytes_freed", "maint.bytes_freed")],
    "maint.expire": [("bytes_written", "maint.bytes_written"), ("bytes_freed", "maint.bytes_freed")],
    "apply_deletes": [("bytes_written", "apply_deletes.bytes_written")],
}
# every per-layer metric and its unit; all but the last group are
# per-batch means over the traced batches
PER_BATCH = {
    **{t: "s" for t, _ in SPAN_METRICS.values()},
    **{b: "B" for _, b in SPAN_METRICS.values() if b},
    **{m: ("count" if f == "files_written" else "B") for io in SPAN_IO.values() for f, m in io},
    "frontier.rows": "count",
    "politeness.rows_in": "count",
    "politeness.rows_dropped": "count",
    "prefilter.rows_in": "count",
    "prefilter.maybe_rows": "count",
    "exact.rows_in": "count",
    "exact.rows_out": "count",
    "exact.tasks": "count",
    "scheduler.rows_out": "count",
    "scheduler.quota_trimmed": "count",
    "parse.docs": "count",
    "parse.links": "count",
    "parse.spans": "count",
    "commit.rows": "count",
    "delete.rows": "count",
}
PER_RUN = {
    "prefilter.false_maybe_ratio": "ratio",
    "parse.docs_per_s": "1/s",
    "commit.rebuilds": "count",
    "session.start_s": "s",
    "state.bytes": "B",
    "state.files": "count",
    "state.manifests": "count",
    "trace.untraced_urls_per_s": "1/s",
    "trace.urls_per_s": "1/s",
    "trace.overhead_pct": "%",
}


def run_traced(run: Run) -> tuple[dict, list[str], int, int]:
    import program
    from measure import NullTracer, Tracer, store_listing

    spark, plain_drain, session_s = run.setup(True, "untraced")
    try:
        # the traced lane starts from a copy of the warmed-up store
        shutil.copytree(plain_drain.store_root, os.path.join(run.work, "traced"))
        drain = program.Drain(spark, os.path.join(run.work, "traced"), run.w, run.robots)
        tracer = Tracer(spark, drain.store_root)
        plain, traced = run.loop([(plain_drain, NullTracer()), (drain, tracer)])
        errs = plain["errors"] + traced["errors"] + run.check_run(drain, traced)
        if traced["digests"] != plain["digests"]:
            errs.append("traced scheduled-set digests differ from the untraced lane's")
        stages = tracer.stage_data()
        listing = store_listing(drain.store_root)
    finally:
        program.shutdown(spark)
    with open(os.path.join(ROOT, ".perfbench_work", f"spans-{run.args.workload}-{run.args.seed}.json"), "w") as f:
        json.dump(tracer.spans, f)

    tot = dict.fromkeys(PER_BATCH, 0)
    own = tracer.self_times()
    for s in tracer.spans:
        time_key, shuffle_key = SPAN_METRICS[s["name"]]
        stage = stages.get(s["id"], {})
        tot[time_key] += own[s["id"]]
        if shuffle_key:
            tot[shuffle_key] += stage.get("shuffle_bytes", 0)
        if s["name"] == "exact":
            tot["exact.tasks"] += stage.get("tasks", 0)
        for field, key in SPAN_IO.get(s["name"], ()):
            tot[key] += s[field]
    c = traced["counts"]
    allowed, maybe, confirmed = c["politeness.rows_out"], c["prefilter.maybe_rows"], c["exact.rows_out"]
    tot.update({
        "frontier.rows": c["frontier.rows"],
        "politeness.rows_in": c["frontier.rows"],
        "politeness.rows_dropped": c["frontier.rows"] - allowed,
        "prefilter.rows_in": allowed,
        "prefilter.maybe_rows": maybe,
        "exact.rows_in": maybe,
        "exact.rows_out": confirmed,
        "scheduler.rows_out": c["scheduler.rows_out"],
        "scheduler.quota_trimmed": allowed - maybe + confirmed - c["scheduler.rows_out"],
        "parse.docs": c.get("parse.docs", 0),
        "parse.links": c.get("parse.links", 0),
        "parse.spans": c.get("parse.spans", 0),
        "commit.rows": c["commit.rows"],
        "delete.rows": sum(run.expected[i].get("deleted", 0) for i in range(1, traced["last"] + 1)),
    })
    n = traced["batches"]
    if not n or plain["batches"] != n:
        raise RuntimeError("traced run incomplete: " + "; ".join(errs))
    plain_ups = plain["rows"] / sum(plain["wall_s"])
    traced_ups = traced["rows"] / sum(traced["wall_s"])
    per_run = {
        "prefilter.false_maybe_ratio": confirmed / maybe if maybe else 0.0,
        "parse.docs_per_s": tot["parse.docs"] / tot["parse.s"] if tot["parse.s"] else 0.0,
        "commit.rebuilds": traced["rebuilds"],
        "session.start_s": session_s,
        "state.bytes": sum(listing.values()),
        "state.files": len(listing),
        "state.manifests": sum(1 for p in listing if p.endswith("manifest.json")),
        "trace.untraced_urls_per_s": plain_ups,
        "trace.urls_per_s": traced_ups,
        "trace.overhead_pct": 100.0 * (plain_ups / traced_ups - 1.0),
    }
    metrics = {k: metric(tot[k] / n, unit, n) for k, unit in PER_BATCH.items()}
    metrics.update({
        k: metric(per_run[k], unit, 1 if k == "session.start_s" or k.startswith("state.") else n)
        for k, unit in PER_RUN.items()
    })
    return metrics, errs, plain["attempted"] + traced["attempted"], plain["failed"] + traced["failed"]


def main(argv=None) -> int:
    sys.path[:0] = [HERE, ROOT]
    args = parse_args(argv)
    import program  # noqa: F401  (fails here, before any work, outside a checkout)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # Spark's and the package zip's scratch files stay in the checkout
    os.environ["TMPDIR"] = work
    tempfile.tempdir = work
    try:
        run = Run(args, work)
        metrics, errs, attempted, failed = (run_traced if args.trace else run_untraced)(run)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for e in errs:
        print(f"MISMATCH {e}", file=sys.stderr)
    for name, m in metrics.items():
        print(f"{name:32s} {m['value']:>16.6g} {m['unit']:6s} n={m['n']}")
    correct = not errs and failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": m["value"], "unit": m["unit"]} for k, m in metrics.items()},
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
