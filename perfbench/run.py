#!/usr/bin/env python3
"""The repository's benchmark (see perfbench/NOTES.md and BENCHMARK.json).

    python3 perfbench/run.py --workload adhoc_mix --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --smoke            # sf0.001 self-check of every workload

One run builds the program from source if needed (perfbench/build.py),
starts a fresh driver JVM with its own empty store root, sets up (store
prebuilds in the traced run, untimed warm-up), writes the DuckDB answer key, measures
for --seconds, checks every answer, and prints every metric by name and
unit. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics; --trace 1 is the traced run and reports the per-layer
metrics. Full records (environment, per-query job counts, spans) go to
<build dir>/results/.
"""
import argparse
import json
import os
import queue
import shutil
import subprocess
import sys
import threading
import time
import http.client
import urllib.parse

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import workloads  # noqa: E402
import answers  # noqa: E402
import report  # noqa: E402

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RUN_LIMIT_S = 170  # a run after the build, set-up included, ends within 180 s
HEAP = "3g"  # fixed (-Xms = -Xmx) so that heap resizing adds no noise


def fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def fixture_root() -> str:
    """Fixtures graft.Bench reads: $PERFBENCH_DATA, else testdata/ in the home directory."""
    return os.environ.get("PERFBENCH_DATA") or os.path.join(os.path.expanduser("~"), "testdata")


class Jvm:
    """The driver JVM and its line protocol (see Runner.scala)."""

    def __init__(self, cp, run_dir, argv):
        self.log = open(os.path.join(run_dir, "jvm.log"), "w")
        cmd = [build.java()] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
            f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m", f"-Djava.io.tmpdir={run_dir}/store", "-Duser.timezone=UTC",
            "-cp", cp, "graft.perfbench.Runner"] + argv
        self.proc = subprocess.Popen(cmd, cwd=run_dir, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                     stderr=self.log, text=True, bufsize=1)
        self.events = queue.Queue()
        threading.Thread(target=self._read, daemon=True).start()

    def _read(self):
        for line in self.proc.stdout:
            if line.startswith("@@"):
                self.events.put(json.loads(line[2:]))
        self.events.put(None)

    def next_event(self, deadline: float) -> dict:
        try:
            ev = self.events.get(timeout=max(0.1, deadline - time.monotonic()))
        except queue.Empty:
            raise RuntimeError("driver JVM timed out")
        if ev is None:
            raise RuntimeError(f"driver JVM exited with code {self.proc.wait()}")
        return ev

    def send(self, line: str):
        self.proc.stdin.write(line + "\n")
        self.proc.stdin.flush()

    def close(self):
        if self.proc.poll() is None:
            try:
                self.proc.stdin.close()
                self.proc.wait(timeout=20)
            except Exception:
                self.proc.kill()
                self.proc.wait()
        self.log.close()


def run_closed(jvm, t_spawn, deadline, corrupt):
    ev = jvm.next_event(deadline)
    if ev["event"] != "setup_done":
        raise RuntimeError(f"unexpected event {ev}")
    setup_s = time.monotonic() - t_spawn
    ev = jvm.next_event(deadline)
    if ev["event"] != "key_request":
        raise RuntimeError(f"unexpected event {ev}")
    os.makedirs(ev["dir"], exist_ok=True)
    answers.write_key(ev["items"], ev["data"], ev["dir"], os.path.join(build.build_dir(), "keycache"),
                      corrupt=corrupt)
    jvm.send("ok")
    ev = jvm.next_event(deadline)
    if ev["event"] != "result":
        raise RuntimeError(f"unexpected event {ev}")
    with open(ev["path"]) as fh:
        res = json.load(fh)
    res["setup_s"] = setup_s
    return res


def run_serve(jvm, args, t_spawn, deadline, data_dir, corrupt, cores):
    ev = jvm.next_event(deadline)
    if ev["event"] != "serve_ready":
        raise RuntimeError(f"unexpected event {ev}")
    url = urllib.parse.urlparse(ev["url"])
    plan = workloads.serve_plan(args.seed, args.seconds, answers.customer_keys(data_dir), ev["sql"])
    # warm-up: every request due at once, so the clients send back to back
    warm = open_loop(url, plan["warm"], 0.0, cores, keep_backlog=True)
    bad = [r for r in warm["requests"] if r["status"] != 200]
    if bad:
        raise RuntimeError(f"warm-up request failed with HTTP {bad[0]['status']}: {bad[0]['body'][:200]}")
    setup_s = time.monotonic() - t_spawn
    key = answers.serve_key(plan["statements"], data_dir, corrupt=corrupt)

    def checked(part):
        for r in part["requests"]:
            r["ok"], r["error"] = answers.check_serve(r, key)
            r["name"] = plan["names"][r["stmt"]]
            del r["body"]
        return part

    load = {}
    if args.trace:
        # first half untraced, second half traced: the pass_s difference is the overhead
        half = args.seconds / 2.0
        load["untraced"] = checked(open_loop(url, [r for r in plan["schedule"] if r[0] < half], half, cores))
        jvm.send("trace_on")
        load["traced"] = checked(open_loop(url, [(d - half, i, b) for d, i, b in plan["schedule"] if d >= half],
                                           half, cores))
        jvm.send("trace_off")
        if jvm.next_event(deadline)["event"] != "traced":
            raise RuntimeError("no traced event")
        for rate, sched in workloads.serve_ladder(args.seed, plan["schedule"]):
            step = load[f"ladder_{rate:g}"] = dict(
                checked(open_loop(url, sched, workloads.SERVE_LADDER_STEP_S, cores)), rate=rate)
            if not report.rung_ok(step):
                break
    else:
        load["untraced"] = checked(open_loop(url, plan["schedule"], args.seconds, cores))
    jvm.send("stop")
    ev = jvm.next_event(deadline)
    if ev["event"] != "result":
        raise RuntimeError(f"unexpected event {ev}")
    with open(ev["path"]) as fh:
        res = json.load(fh)
    res.update(setup_s=setup_s, load=load)
    return res


def open_loop(url, schedule, seconds, clients, keep_backlog=False):
    """Send each (due_s, stmt) when due from one dispatcher and `clients`
    connections; latency counts from the due time. Requests still queued
    when the window ends are the backlog; they are not sent unless
    `keep_backlog`."""
    work = queue.Queue()
    lock = threading.Lock()
    state = {"inflight": 0, "inflight_max": 0}
    done = []

    def client():
        conn = http.client.HTTPConnection(url.hostname, url.port, timeout=120)
        while True:
            item = work.get()
            if item is None:
                break
            due, stmt, body, dispatched = item
            with lock:
                state["inflight"] += 1
                state["inflight_max"] = max(state["inflight_max"], state["inflight"])
            t_send = time.monotonic()
            status, payload, t_first = 0, b"", t_send
            try:
                conn.request("POST", url.path, body=body)
                resp = conn.getresponse()
                t_first = time.monotonic()
                status, payload = resp.status, resp.read()
            except Exception as e:  # a broken connection counts as a failed request
                payload = str(e).encode()
                conn.close()
                conn = http.client.HTTPConnection(url.hostname, url.port, timeout=120)
            t_done = time.monotonic()
            with lock:
                state["inflight"] -= 1
                done.append({"stmt": stmt, "due": due, "sent": t_send, "done": t_done,
                             "late_ms": (dispatched - due) * 1e3,
                             "ttfb_ms": (t_first - t_send) * 1e3, "latency_ms": (t_done - due) * 1e3,
                             "status": status, "body": payload})
        conn.close()

    threads = [threading.Thread(target=client, daemon=True) for _ in range(clients)]
    for t in threads:
        t.start()
    start = time.monotonic()
    for due_s, stmt, body in schedule:
        wait = start + due_s - time.monotonic()
        if wait > 0:
            time.sleep(wait)
        work.put((start + due_s, stmt, body, time.monotonic()))
    wait = start + seconds - time.monotonic()
    if wait > 0:
        time.sleep(wait)
    backlog = 0
    while not keep_backlog:
        try:
            work.get_nowait()
            backlog += 1
        except queue.Empty:
            break
    for _ in threads:
        work.put(None)
    for t in threads:
        t.join(timeout=120)
    wall = time.monotonic() - start
    return {"requests": done, "backlog_end": backlog, "inflight_max": state["inflight_max"],
            "wall_s": wall, "scheduled": len(schedule)}


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="sf0.001 self-check of every workload")
    ap.add_argument("--sf", default="sf0.1", help="fixture scale directory (the smoke check uses sf0.001)")
    ap.add_argument("--corrupt-key", action="store_true", help="corrupt one answer-key entry (self-check)")
    args = ap.parse_args()
    if args.smoke:
        import smoke
        sys.exit(smoke.main())
    if not args.workload:
        fail("--workload is required")
    try:
        cp = build.build()
    except build.BuildError as e:
        fail(str(e))
    data_dir = os.path.join(fixture_root(), args.sf)
    if not os.path.isfile(os.path.join(data_dir, "lineitem.parquet")):
        fail(f"fixture {data_dir} not found (set PERFBENCH_DATA)")
    cores = nproc()
    run_dir = os.path.join(build.build_dir(), "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("store", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub))
    ops = workloads.operations(args.workload)
    argv = ["--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cores", str(cores), "--data", data_dir, "--run", run_dir,
            "--ops", ",".join(ops)]
    jvm = None
    try:
        t_spawn = time.monotonic()
        deadline = t_spawn + RUN_LIMIT_S  # a cold build before this has the first run's longer limit
        jvm = Jvm(cp, run_dir, argv)
        if args.workload == "serve_open":
            res = run_serve(jvm, args, t_spawn, deadline, data_dir, args.corrupt_key, cores)
        else:
            res = run_closed(jvm, t_spawn, deadline, args.corrupt_key)
        jvm.close()
        if jvm.proc.returncode != 0:
            raise RuntimeError(f"driver JVM exited with code {jvm.proc.returncode}")
    except Exception as e:
        if jvm:
            jvm.proc.kill()
            jvm.proc.wait()
            jvm.log.close()
            tail = open(os.path.join(run_dir, "jvm.log")).read()[-3000:]
            print(tail, file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"run failed: {e}", 1)
    shutil.rmtree(run_dir, ignore_errors=True)
    env = {"nproc": nproc(), "cores": cores, "heap": HEAP, "seed": args.seed, "workload": args.workload,
           "seconds": args.seconds, "trace": args.trace, "sf": args.sf, "source": build.source_digest(),
           "git_commit": git_commit(), "spark_version": res.get("spark_version"),
           "fixture_bytes": res.get("fixture_bytes"),
           "python": sys.version.split()[0], "duckdb": answers.duckdb_version()}
    report.emit(args, env, res)


def git_commit() -> str:
    try:
        return subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or "none"
    except Exception:
        return "none"


if __name__ == "__main__":
    main()
