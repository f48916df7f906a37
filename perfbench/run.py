"""The repository benchmark: one command per workload, run from the
repository root.

    python3 perfbench/run.py --workload dcb_append --seed 1 --seconds 20 --trace 0

It seeds a store from the seed, starts the REST server in its own
process, drives it from closed-loop clients in this process for
``--seconds``, checks every response, and prints one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the run
alternates untraced and traced quarters and the metrics are the
per-layer ones (see README.md). Everything it writes stays under
``.perfbench/`` in the repository root.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import queue
import shutil
import signal
import subprocess
import sys
import threading
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = {"dcb_append": "append", "event_reads": "reads"}  # name: load
APPEND_CLIENTS = 3
READ_CLIENTS = 2
APPEND_WARMUP_S = 2.0
JVM_HEAP_MB = 2048

END_TO_END: list[tuple[str, str]] = [
    ("setup_s", "s"), ("peak_rss_mb", "MB"), ("ops_per_s", "1/s"),
    ("p50_ms", "ms"), ("p90_ms", "ms"), ("stored_bytes_per_fact", "B"),
]


class Server:
    """The server process under test, in a session of its own so that it
    and everything it starts (the JVM, Python workers) stop together."""

    def __init__(self, work: str, id_index: bool, traceable: bool):
        env = dict(
            os.environ,
            SPARK_DRIVER_MEMORY=f"{JVM_HEAP_MB}m",
            SPARK_SHUFFLE_PARTITIONS="4",
            SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
            TMPDIR=os.path.join(work, "tmp"),
            JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            # the JVM heap fixed at its maximum and touched at start, so
            # peak RSS does not hinge on which heap regions the collector
            # happened to use; peak_rss_mb leaves this fixed heap out
            PYSPARK_SUBMIT_ARGS=f"--driver-java-options '-Xms{JVM_HEAP_MB}m -XX:+AlwaysPreTouch' pyspark-shell",
            PYTHONDONTWRITEBYTECODE="1",
        )
        os.makedirs(env["TMPDIR"], exist_ok=True)
        cmd = [sys.executable, os.path.join(HERE, "server_main.py"),
               "--root", os.path.join(work, "root"), "--events", os.path.join(work, "events")]
        cmd += ["--id-index"] if id_index else []
        cmd += ["--traceable"] if traceable else []
        self.log = open(os.path.join(work, "server.log"), "wb")
        self.proc = subprocess.Popen(
            cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log,
            cwd=work, env=env, start_new_session=True, text=True,
        )
        self.lines: queue.Queue = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()
        self.peak_rss = 0
        self.rss_frozen = False  # set when the measured window ends
        self._sampling = True
        self._sampler = threading.Thread(target=self._sample_rss, daemon=True)
        self._sampler.start()

    def _pump(self) -> None:
        for line in self.proc.stdout:
            self.lines.put(line)
        self.lines.put(None)

    def _tree(self) -> dict[int, tuple[int, int]]:
        """pid -> (parent pid, rss bytes) of every process in the server's
        session."""
        out = {}
        page = os.sysconf("SC_PAGE_SIZE")
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[3]) == self.proc.pid:  # session id
                out[int(d)] = (int(fields[1]), int(fields[21]) * page)
        return out

    def _rss(self, seen: set[int]) -> tuple[int, set[int]]:
        """Resident bytes of the tree, and the pids sampled. A fork or
        spawn that has not exec'd yet shares its parent's pages; summing
        it doubled the figure whenever a sample caught the JVM spawning a
        process. So a process counts only from its second sample on, and
        a child still running its parent's executable not at all."""

        def exe(pid: int) -> str | None:
            try:
                return os.readlink(f"/proc/{pid}/exe")
            except OSError:
                return None

        tree = self._tree()
        total = sum(
            rss for pid, (ppid, rss) in tree.items()
            if pid in seen and (ppid not in tree or exe(pid) != exe(ppid))
        )
        return total, set(tree)

    def _sample_rss(self) -> None:
        seen: set[int] = set()
        while self._sampling and not self.rss_frozen:
            total, seen = self._rss(seen)
            self.peak_rss = max(self.peak_rss, total)
            time.sleep(0.2)

    def read(self, timeout: float) -> dict:
        try:
            line = self.lines.get(timeout=timeout)
        except queue.Empty:
            raise RuntimeError(f"server gave no answer in {timeout:.0f} s") from None
        if line is None:
            raise RuntimeError(f"server exited with {self.proc.wait()}")
        return json.loads(line)

    def command(self, cmd: str, timeout: float = 60) -> dict:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()
        return self.read(timeout)

    def stop(self) -> None:
        t0 = time.perf_counter()
        try:
            self.proc.stdin.write("quit\n")
            self.proc.stdin.close()
        except OSError:
            pass
        try:
            self.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            pass
        # whatever the server left in its session goes too
        deadline = time.monotonic() + 30
        while (left := self._tree()) or self.proc.poll() is None:
            sig = signal.SIGTERM if time.monotonic() < deadline - 20 else signal.SIGKILL
            try:
                os.killpg(self.proc.pid, sig)
            except ProcessLookupError:
                pass
            if self.proc.poll() is None:
                try:
                    self.proc.wait(timeout=1)
                except subprocess.TimeoutExpired:
                    pass
            else:
                time.sleep(0.2)
            if time.monotonic() > deadline:
                raise RuntimeError(f"processes {sorted(left)} did not stop")
        self._sampling = False
        self._sampler.join()
        self.log.close()
        print(f"perfbench: server stopped in {time.perf_counter() - t0:.1f} s", file=sys.stderr)


def _pct(xs: list[float], q: float) -> float:
    return float(np.percentile(xs, q)) if xs else 0.0


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total


def _window(pieces: list[tuple[list, float, float]], round_len: int = 1) -> dict:
    """Figures of the measured pieces ``(client logs, start, end)``, all
    of the same length: latencies pooled, rates averaged. With
    ``round_len``, the latency percentiles take each client's samples in
    whole rounds of that many requests, so that every kind of a round
    weighs the same."""
    samples = [s for logs, _, _ in pieces for log in logs for s in log.samples]
    ok = [
        s.ms for logs, _, _ in pieces for log in logs
        for s in log.samples[:len(log.samples) - len(log.samples) % round_len] if s.ok
    ]
    # each client's rate runs to its own last completion, so a client
    # idle after the deadline while another finishes does not count
    rates = [
        sum(
            len(log.samples) / (log.samples[-1].sent + log.samples[-1].ms / 1e3 - start)
            for log in logs if log.samples
        )
        for logs, start, _ in pieces
    ]
    return {
        "samples": samples,
        "spans": [(start, end) for _, start, end in pieces],
        "ops_per_s": float(np.mean(rates)),
        "p50_ms": _pct(ok, 50),
        "p90_ms": _pct(ok, 90),
    }


def run(workload: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    import pyarrow.parquet as pq

    import loadgen
    from workload import (
        N_EVENTS, POINT_KINDS, READ_ROUND, SCAN_KINDS, ReadModel, append_requests, read_requests,
        write_events,
    )

    load = WORKLOADS[workload]
    os.makedirs(os.path.join(work, "events"))
    events_path = os.path.join(work, "events", "events.parquet")
    write_events(seed, events_path)
    model = ReadModel(pq.read_table(events_path)) if load == "reads" else None

    failures: list[str] = []
    attempted = 0
    t_spawn = time.perf_counter()
    server = Server(work, id_index=load == "reads", traceable=trace)
    try:
        port = server.read(timeout=170)["port"]
        # the seeded, maintained store, before the first request
        seeded = _du(os.path.join(work, "root", "stores"))
        if load == "append":
            checker = loadgen.AppendChecker()
            streams = [append_requests(seed, c) for c in range(APPEND_CLIENTS)]
            check = checker.check
            tail = loadgen.TailSubscriber(port)
            now = time.perf_counter()
            warm = loadgen.run_clients(port, streams, check, now + APPEND_WARMUP_S, float("inf"))
        else:
            streams = [read_requests(seed, c, model) for c in range(READ_CLIENTS)]

            def check(req, status, body, _sent):
                return loadgen.check_read(req, status, body, model)

            # half a round per client: the two halves cover every read kind
            rounds = [itertools.islice(s, len(READ_ROUND) // 2) for s in streams]
            warm = loadgen.run_clients(port, rounds, check, float("inf"), float("inf"))
        failures += [e for log in warm for e in log.errors]
        attempted += sum(log.sent for log in warm)
        setup_s = time.perf_counter() - t_spawn

        # a traced run alternates untraced and traced quarters, so both
        # see the same index staleness and the same host load
        phases = ["untraced", "traced"] * 2 if trace else ["untraced"]
        pieces: dict[str, list] = {"untraced": [], "traced": []}
        for name in phases:
            if trace:
                server.command(f"trace {'on' if name == 'traced' else 'off'}")
            start = time.perf_counter()
            logs = loadgen.run_clients(port, streams, check, start + seconds / len(phases), start)
            pieces[name].append((logs, start, time.perf_counter()))
            failures += [e for log in logs for e in log.errors]
            attempted += sum(log.sent for log in logs)
        server.rss_frozen = True  # the checks below are the benchmark's work
        # client figures always come from the untraced time. Any
        # READ_ROUND consecutive reads of a client hold each kind once;
        # a traced run's quarters are too short to hold a round
        measured = _window(pieces["untraced"], len(READ_ROUND) if load == "reads" and not trace else 1)
        dump = server.command(f"dump {os.path.join(work, 'spans.jsonl')}", timeout=120) if trace else None

        print(f"perfbench: measured, {time.perf_counter() - t_spawn:.1f} s after spawn", file=sys.stderr)
        extra: dict[str, float] = {}
        if load == "append":
            appended = dict(checker.appended)
            tail.wait_for(len(appended), timeout=20)
            tail.close()
            failures += tail.check(appended)
            sent = checker.sent_at
            lat = [(t - sent[subj]) * 1e3 for t, _, _, subj in tail.received
                   if any(a <= sent.get(subj, -1) < b for a, b in measured["spans"])]
            extra["client.deliver_p50_ms"] = _pct(lat, 50)
            extra["client.deliver_p90_ms"] = _pct(lat, 90)
            attempted += 1
        else:
            appended = {}
            for cls, kinds in (("point", POINT_KINDS), ("scan", SCAN_KINDS)):
                lat = [s.ms for s in measured["samples"] if s.kind in kinds and s.ok]
                extra[f"client.{cls}_p50_ms"] = _pct(lat, 50)
        facts = server.command("count", timeout=120)["facts"]
        attempted += 1
        if facts != N_EVENTS + len(appended):
            failures.append(f"store holds {facts} facts, want {N_EVENTS} seeded + {len(appended)} appended")
    finally:
        server.stop()
    stored = _du(os.path.join(work, "root", "stores"))

    failed = len(failures)
    for f in failures[:20]:
        print(f"FAILED: {f}", file=sys.stderr)
    extra["client.failed_ratio"] = failed / max(1, attempted)
    if trace:
        from layers import PER_LAYER, load_spans, summarize

        spans = load_spans(os.path.join(work, "spans.jsonl"))
        values = summarize(spans, dump["spark"])
        values.update(extra)
        traced = _window(pieces["traced"])
        values["trace.overhead_p50_ms"] = traced["p50_ms"] - measured["p50_ms"]
        values["trace.overhead_ops_per_s"] = measured["ops_per_s"] - traced["ops_per_s"]
        _keep_trace(workload, seed, spans, values)
        # client metrics of the other load read 0
        metrics = {name: {"value": values.get(name, 0.0), "unit": unit} for name, unit in PER_LAYER}
    else:
        values = {
            "setup_s": setup_s,
            "peak_rss_mb": server.peak_rss / 2**20 - JVM_HEAP_MB,
            "ops_per_s": measured["ops_per_s"],
            "p50_ms": measured["p50_ms"],
            "p90_ms": measured["p90_ms"],
            # what the appends added, per appended fact; a read run
            # appends nothing, so it reports the seed's footprint
            "stored_bytes_per_fact": (stored - seeded) / len(appended) if appended else seeded / N_EVENTS,
        }
        metrics = {name: {"value": values[name], "unit": unit} for name, unit in END_TO_END}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def _keep_trace(workload: str, seed: int, spans, values) -> None:
    """Write the spans and a reading aid next to the run directories:
    the per-layer values and the span tree of the median request."""
    from layers import request_tree

    out = os.path.join(ROOT, ".perfbench", f"trace-{workload}-{seed}")
    roots = sorted(
        (s for s in spans if s[3] == "server.handle" and s[6][0] != "subscribe"),
        key=lambda s: s[5] - s[4],
    )
    median = request_tree(spans, roots[len(roots) // 2][2]) if roots else []
    with open(out + ".summary.json", "w") as f:
        json.dump({"per_layer": values, "median_request": median}, f, indent=1)
    with open(out + ".spans.jsonl", "w") as f:
        for s in spans:
            f.write(json.dumps(s) + "\n")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its server (the finally blocks run)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path.insert(0, ROOT)
    try:
        import factstore_spark.server  # noqa: F401  the program under test
    except ImportError as exc:
        print(f"perfbench: cannot import the program under test: {exc}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
