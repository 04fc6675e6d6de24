"""Benchmark harness for the engine: socket-served viewer sessions and
registry batches, with an untraced and a traced mode.

    python3 perfbench/run.py --workload serve_viewer --seed 1 --seconds 15 --trace 0

Workloads and metrics are declared in BENCHMARK.json at the repository
root; perfbench/README.md says what each one measures. The last line
of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end-to-end metric (``--trace 0``) or every per-layer metric
(``--trace 1``). Lines before it give the box record, the per-layer
detail and any wrong answers. Data is generated from a fixed data seed
into perfbench/.work and reused across runs; ``--seed`` drives the
traffic. Spans of a traced run are written there as JSON lines.
"""

from __future__ import annotations

import argparse
import asyncio
import json
import os
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import common, datagen  # noqa: E402

RUN_LIMIT_S = 170
SERVE_SETUPS = 3
REGISTRY_SETUPS = 7
# sf0.01, not the sf0.1 of bench.py: at sf0.1 one warm-up plus one timed
# pass of the 17 queries takes about 80 s on 4 cores, more than a run
# of this benchmark can spend
REGISTRY_SF = 0.01
TINY_QUERIES = ["ts_window_query", "doc_exact_dedup", "emb_cosine_topk"]

CHILDREN: list[subprocess.Popen] = []
STOP_GRACE_S = 20
PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Adopt orphaned descendants (the JVM of an engine process that
    has exited) so they stay visible below this process and can be
    waited for."""
    try:
        import ctypes
        ctypes.CDLL(None).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def descendants() -> list[int]:
    """Processes this run started that have not been waited for: those
    below it, and those in the sessions of its engine processes, from
    /proc."""
    kids: dict[int, list[int]] = {}
    sessions = {p.pid for p in CHILDREN}
    in_session = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # zombies count: a JVM whose main thread has ended shows as
        # one while its other threads still run
        ppid, _, sid = stat[stat.rindex(")") + 2:].split()[1:4]
        kids.setdefault(int(ppid), []).append(int(d))
        if int(sid) in sessions:
            in_session.append(int(d))
    out, todo = set(in_session), [os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.add(c)
            todo.append(c)
    out.discard(os.getpid())
    return sorted(out)


def reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_all(grace: float) -> None:
    """Stop every process this run started and wait until each has
    ended: SIGTERM (the JVM runs its shutdown hooks), then SIGKILL to
    whatever is left after ``grace`` seconds."""
    deadline = time.monotonic() + grace
    termed: set[int] = set()
    while True:
        reap()
        live = descendants()
        if not live:
            return
        if time.monotonic() > deadline + 10:
            print(f"processes {live} outlived SIGKILL", file=sys.stderr)
            return
        late = time.monotonic() > deadline
        for pid in live:
            if late or pid not in termed:
                try:
                    os.kill(pid, signal.SIGKILL if late else signal.SIGTERM)
                except ProcessLookupError:
                    pass
                termed.add(pid)
        time.sleep(0.05)


def on_signal(signum, frame):
    """Time limit or termination: stop every process, print no
    result."""
    signal.signal(signal.SIGALRM, signal.SIG_IGN)
    stop_all(2)
    print(f"run stopped by signal {signum} (limit {RUN_LIMIT_S} s)", file=sys.stderr)
    os._exit(3)


def require_program(workload: str) -> None:
    """Fail before any work when the engine is not in the checkout."""
    try:
        import pennsieve_streaming_spark.serving.transport  # noqa: F401
        if workload.startswith("registry"):
            import __spark_entry__  # noqa: F401
    except ImportError as e:
        print(f"engine not found next to the benchmark: {e}", file=sys.stderr)
        sys.exit(2)


# ---------------------------------------------------------------------------
# serve_viewer
# ---------------------------------------------------------------------------

class Server:
    """The engine process of serve_viewer, driven over its stdin."""

    def __init__(self, path: str, setups: int):
        log = open(os.path.join(common.WORK, "server.log"), "w")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(ROOT, "perfbench", "server.py"),
             path, str(setups)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=log,
            text=True, cwd=common.WORK, start_new_session=True)
        CHILDREN.append(self.proc)

    def read(self) -> dict:
        for line in self.proc.stdout:
            if line.startswith("@@ "):
                return json.loads(line[3:])
        raise RuntimeError("engine process ended; see perfbench/.work/server.log")

    def call(self, cmd: str) -> dict:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()
        return self.read()

    def quit(self) -> None:
        self.proc.stdin.write("quit\n")
        self.proc.stdin.flush()
        self.proc.wait(timeout=30)


def serve_viewer(args) -> dict:
    from perfbench import viewer

    clock = {"start": time.perf_counter()}
    rec = datagen.recording(common.WORK, 3.0 if args.tiny else 30.0)
    clock["inputs"] = time.perf_counter()
    server = Server(rec.path, 1 if args.tiny else SERVE_SETUPS)
    ready = server.read()
    clock["ready"] = time.perf_counter()

    async def drive():
        conns = await viewer.open_conns(ready, rec, args.seed)
        phases = {}

        async def phase(name, seconds=None):
            """One closed-loop phase: one zoom cycle per connection, or
            whole cycles until ``seconds`` have passed (the cycle under
            way then finishes and counts)."""
            t0 = time.perf_counter()
            until = None if seconds is None else t0 + seconds
            await asyncio.gather(*(c.loop(name, until) for c in conns))
            phases[name] = [o for c in conns for o in c.ops if o["phase"] == name]
            clock[name] = time.perf_counter()

        if args.trace:
            server.call("trace on")
        await phase("warm")
        if args.trace:
            server.call("trace off")
        await phase("timed", seconds=args.seconds)
        if args.trace:
            server.call("trace on")
            await phase("traced", seconds=args.seconds)
        for c in conns:
            c.client.close()
        return conns, phases

    conns, phases = asyncio.run(drive())
    stats = server.call("stats")
    server.quit()
    clock["stats"] = time.perf_counter()

    all_ops = [o for c in conns for o in c.ops]
    if args.corrupt:
        viewer.corrupt(all_ops[0])
    checker = viewer.Checker(rec)
    errors = []
    for o in all_ops:
        why = checker.check(o)
        o["ok"] = why is None
        if why:
            errors.append(f"{o['rid']} ({o['phase']}): {why}")

    clock["checked"] = time.perf_counter()
    def per_s(ops, count):
        """Sum over connections of the rate each keeps when every page
        of its zoom cycle takes the median time of its position in the
        cycle (one request in flight per connection, zero think time),
        so one request the box slowed down moves no figure."""
        rate = 0.0
        for kind in {o["conn"] for o in ops}:
            by_pos: dict[int, list[dict]] = {}
            for o in ops:
                if o["conn"] == kind and not o["error"]:
                    by_pos.setdefault(o["pos"], []).append(o)
            cycle_s = sum(common.median([o["last"] - o["send"] for o in g])
                          for g in by_pos.values())
            if cycle_s:
                rate += sum(common.median(list(map(count, g)))
                            for g in by_pos.values()) / cycle_s
        return rate

    ops = phases["traced" if args.trace else "timed"]
    done = [o for o in ops if not o["error"]]
    lat = [o["last"] - o["send"] for o in done]
    e2e = {
        "setup_s": common.median(ready["setups_s"]),
        "ops_per_s": per_s(ops, lambda o: 1),
        "latency_p50_ms": common.pctl(lat, 50) * 1e3,
        "latency_p90_ms": common.pctl(lat, 90) * 1e3,
        "first_frame_p50_ms": common.pctl(
            [o["first"] - o["send"] for o in done if "first" in o], 50) * 1e3,
        "rows_per_s": per_s(ops, _rows),
        "live_heap_mb": stats["gauges"]["live_heap_mb"],
        "peak_rss_mb": stats["gauges"]["peak_rss_mb"],
    }
    detail = {
        "setups_s": ready["setups_s"],
        "requests": len(ops),
        "untraced_ops_per_s": per_s(phases["timed"], lambda o: 1),
        "clock_s": {k: round(v - clock["start"], 2) for k, v in clock.items()},
    }
    for kind in ("plain", "dsp", "ws"):
        mine = [o["last"] - o["send"] for o in done if o["conn"] == kind]
        detail[f"session.{kind}.requests"] = len(mine)
        detail[f"session.{kind}.latency_p50_ms"] = common.pctl(mine, 50) * 1e3
    layer = {"util.persisted_rdds": stats["gauges"]["persisted_rdds"]}
    spans = common.Spans()
    if args.trace:
        recs = {r["rid"]: r for r in stats["records"]}
        traced = [o for o in done if o["rid"] in recs]
        for o in traced:
            r = recs[o["rid"]]
            spans.add("client.request", o["rid"], o["send"], o["last"], conn=o["conn"],
                      frames=len(o["frames"]), bytes=o["bytes"], rows=_rows(o))
            spans.add("transport.wait", o["rid"], o["send"], r["run_start"],
                      parent="client.request")
            spans.add("session.run", o["rid"], r["run_start"], r["run_end"],
                      parent="client.request", build_jobs=r.get("build_jobs", 0))
            spans.add("transport.deliver", o["rid"], r["run_end"], o["last"],
                      parent="client.request", jobs=r.get("jobs"), tasks=r.get("tasks"))
        warm = [recs[o["rid"]] for o in phases["warm"] if o["rid"] in recs]
        n = max(1, len(warm))
        layer.update({
            "wait_ms": common.median(
                [(recs[o["rid"]]["run_start"] - o["send"]) * 1e3 for o in traced]),
            "build_ms": common.median(
                [(recs[o["rid"]]["run_end"] - recs[o["rid"]]["run_start"]) * 1e3
                 for o in traced]),
            "deliver_ms": common.median(
                [(o["last"] - recs[o["rid"]]["run_end"]) * 1e3 for o in traced]),
            "first_frame_p50_ms": e2e["first_frame_p50_ms"],
            "spark.jobs_per_op": sum(r.get("jobs", 0) for r in warm) / n,
            "spark.tasks_per_op": sum(r.get("tasks", 0) for r in warm) / n,
            "spark.build_jobs_per_op": sum(r.get("build_jobs", 0) for r in warm) / n,
            "transport.frames_per_op": sum(len(o["frames"]) for o in done) / len(done),
            "transport.bytes_per_op": sum(o["bytes"] for o in done) / len(done),
            "trace.overhead_pct": 100.0 * (1 - e2e["ops_per_s"] / detail["untraced_ops_per_s"]),
        })
        detail["self_ms"] = spans.self_ms()
    box = {"sentinel_s": ready["sentinel_s"]}
    return {"attempted": len(all_ops), "failed": sum(not o["ok"] for o in all_ops),
            "errors": errors, "e2e": e2e, "layer": layer, "detail": detail,
            "box": box, "spans": spans}


def _rows(op: dict) -> int:
    return sum(len(f["rows"]) if "rows" in f else
               (len(f["data"]) // 2 if f["is_min_max"] else len(f["data"]))
               for f in op["frames"])


# ---------------------------------------------------------------------------
# registry workloads
# ---------------------------------------------------------------------------

def registry_headline(args) -> dict:
    from perfbench import registry

    if args.tiny:
        sf_dir = datagen.registry_tables(common.WORK, 0.001)
        return registry.run(args, sf_dir, TINY_QUERIES, setups=1)
    sf_dir = datagen.registry_tables(common.WORK, REGISTRY_SF)
    return registry.run(args, sf_dir, registry.HEADLINE, REGISTRY_SETUPS)


WORKLOADS = {"serve_viewer": serve_viewer, "registry_headline": registry_headline}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="small inputs and few operations (self-test)")
    ap.add_argument("--corrupt", action="store_true",
                    help="damage the first answer before checking it (self-test)")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    require_program(args.workload)
    os.makedirs(common.WORK, exist_ok=True)
    for sig in (signal.SIGALRM, signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, on_signal)
    signal.alarm(RUN_LIMIT_S)

    become_subreaper()
    load_start = os.getloadavg()[0]
    cpu_start = common.cpu_times()
    try:
        res = WORKLOADS[args.workload](args)
    finally:
        stop_all(STOP_GRACE_S)
    box = {"nproc": os.cpu_count() or 1, "load1_start": load_start,
           "load1_end": os.getloadavg()[0],
           "steal_pct": common.steal_pct(cpu_start, common.cpu_times()), **res["box"]}
    attempted, failed = res["attempted"], res["failed"]
    layer = {
        **res["layer"],
        "failed_ratio": failed / max(1, attempted),
        "box.nproc": box["nproc"],
        "box.load1_start": box["load1_start"],
        "box.load1_end": box["load1_end"],
        "box.sentinel_s": box["sentinel_s"],
        "box.steal_pct": box["steal_pct"],
    }
    if args.trace:
        path = os.path.join(common.WORK, "traces", f"{args.workload}-s{args.seed}.jsonl")
        res["spans"].write(path)
        res["detail"]["trace_file"] = os.path.relpath(path, ROOT)

    print(json.dumps({"box": box}))
    print(json.dumps({"detail": res["detail"]}))
    for e in res["errors"]:
        print(json.dumps({"wrong": e}))
    chosen = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = layer if args.trace else res["e2e"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in chosen}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
