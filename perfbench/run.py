"""Wire-path benchmark of the pg-wire server.

    python3 perfbench/run.py --workload short_stmts --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. One run:

1. writes seeded parquet tables under ``.perfbench/run-<pid>/data``;
2. starts ``python -m duckdb_pgwire_spark.server`` (``--trace 1``: the
   same server under ``perfbench/traced_server.py``) as its own process
   group, with its working directory, warehouse, Spark local dirs and
   temporary files inside the run directory and ``--catalog-dir none``;
3. times set-up from launch until the first query is answered;
4. over one connection, runs the workload's untimed set-up statements,
   ``WARMUP_PASSES`` warm-up passes and a fixed number of timed passes
   sized from ``--seconds`` (equal work on every commit);
5. reads the server's peak RSS, drops what it created, stops the server
   and waits for every process of its group to end;
6. checks every statement against DuckDB over the same parquet files
   (write_mix replays its DML on a DuckDB mirror and compares command
   tags with the affected-row counts); a traced run also checks that its
   spans overlap only by nesting (``layers``);
7. writes a run record under ``.perfbench/records`` and prints one JSON
   line: end-to-end metrics with ``--trace 0``, per-layer metrics with
   ``--trace 1``.

With ``--trace 1`` the timed passes alternate untraced and traced (the
shim switches on SIGUSR1/SIGUSR2), so the tracing overhead is measured
inside one server process.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import datagen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
from wire import Result, WireClient  # noqa: E402
from workloads import WORKLOADS, WRITE_TABLE, Step, Workload  # noqa: E402

SPARK_CPUS = 3  # leaves a core for the server's event loop and the client
DRIVER_MEM = "2g"
WARMUP_PASSES = 2
MIN_TIMED_PASSES = 3
NOMINAL_PASS_S = 2.0  # sizes the timed pass count from --seconds
SETUP_TIMEOUT_S = 150.0
STOP_TIMEOUT_S = 10.0


@dataclass
class Rec:
    phase: str  # warmup | timed
    pass_index: int
    pos: int  # position of the statement in its pass
    traced: bool
    step: Step
    res: Result
    affected: int | None = None  # DuckDB's affected-row count for a write
    table_rows: int | None = None  # write table size after it
    check: str = ""  # "" = matched DuckDB, else what differed


# ------------------------------------------------------------------ server


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _group_pids(pgid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            pids.append(int(entry))
    return pids


class Server:
    def __init__(self, work: Path, data_dir: Path, traced: bool):
        self.port = _free_port()
        self.spans_path = work / "spans.json"
        cwd, tmp, local = work / "cwd", work / "tmp", work / "local"
        for d in (cwd, tmp, local):
            d.mkdir(parents=True, exist_ok=True)
        entry = [str(HERE / "traced_server.py")] if traced else ["-m", "duckdb_pgwire_spark.server"]
        cmd = [sys.executable, *entry, "--port", str(self.port),
               "--sf-dir", str(data_dir), "--catalog-dir", "none"]
        env = dict(
            os.environ,
            PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
            PYSPARK_PYTHON=sys.executable,
            SPARK_GRAFT_CPUS=str(SPARK_CPUS),
            SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
            SPARK_LOCAL_DIRS=str(local),
            TMPDIR=str(tmp),
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
            PERFBENCH_TRACE_OUT=str(self.spans_path),
            TZ="UTC",
        )
        self.forced_stop = False
        self.log_path = work / "server.log"
        self.log = open(self.log_path, "wb")
        self.started = time.monotonic()
        self.proc = subprocess.Popen(
            cmd, cwd=cwd, env=env, stdout=self.log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True,
        )

    def log_tail(self, n: int = 20) -> str:
        try:
            return "\n".join(self.log_path.read_text(errors="replace").splitlines()[-n:])
        except OSError:
            return ""

    def connect(self) -> tuple[WireClient, float]:
        """First connection and ``SELECT 1``; returns it with set-up seconds."""
        deadline = self.started + SETUP_TIMEOUT_S
        while True:
            if self.proc.poll() is not None:
                raise RuntimeError(f"server exited during set-up:\n{self.log_tail()}")
            if time.monotonic() > deadline:
                raise RuntimeError(f"server not ready in {SETUP_TIMEOUT_S}s:\n{self.log_tail()}")
            try:
                client = WireClient(self.port)
                break
            except OSError:
                time.sleep(0.05)
        res = client.query("SELECT 1")
        if res.error:
            raise RuntimeError(f"first query failed: {res.error}")
        return client, res.done - self.started

    def peak_rss_mb(self) -> dict[str, float]:
        """Peak RSS (VmHWM) in MB of each process of the server's group
        (the Python server, its JVM), keyed by ``<pid>:<command>``."""
        out = {}
        for pid in _group_pids(self.proc.pid):
            try:
                with open(f"/proc/{pid}/status") as f:
                    fields = dict(line.split(":", 1) for line in f if ":" in line)
            except OSError:
                continue
            if "VmHWM" in fields:
                out[f"{pid}:{fields['Name'].strip()}"] = int(fields["VmHWM"].split()[0]) / 1024
        return out

    def set_tracing(self, on: bool, client: WireClient) -> None:
        self.proc.send_signal(signal.SIGUSR1 if on else signal.SIGUSR2)
        client.query("SELECT 1")  # the handler has run once this is answered

    def stop(self) -> None:
        """SIGTERM the server, SIGKILL its group if it lingers, and wait
        until no process of the group is left."""
        pgid = self.proc.pid
        if self.proc.poll() is None:
            self.proc.terminate()
        deadline = time.monotonic() + STOP_TIMEOUT_S
        while _group_pids(pgid):
            if time.monotonic() > deadline:
                self.forced_stop = True
                try:
                    os.killpg(pgid, signal.SIGKILL)
                except ProcessLookupError:
                    break
                deadline = time.monotonic() + STOP_TIMEOUT_S
            time.sleep(0.05)
        self.proc.wait()
        self.log.close()


# ------------------------------------------------------------------ workload


def _send(client: WireClient, step: Step) -> Result:
    if step.kind == "prepared":
        return client.prepared(step.sql, [str(p) for p in step.params])
    if step.kind == "copy":
        return client.copy_in(step.sql, step.data)
    return client.query(step.sql)


def run_pass(client, wl: Workload, seed: int, index: int, phase: str,
             traced: bool, recs: list[Rec]) -> float:
    steps = wl.pass_steps(seed, index)
    t0 = time.monotonic()
    for pos, step in enumerate(steps):
        recs.append(Rec(phase, index, pos, traced, step, _send(client, step)))
    return time.monotonic() - t0


def timed_passes(seconds: float) -> int:
    return max(MIN_TIMED_PASSES, round(seconds / NOMINAL_PASS_S))


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) jiffies of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return sum(ticks), ticks[7]


# ------------------------------------------------------------------ checks


def check(recs: list[Rec], wl: Workload, data_dir: Path, scratch: Path,
          known_tags: set[tuple[str, str]]) -> None:
    """Fill ``rec.check`` for every statement; DML is replayed in order and
    a write's command tag must carry DuckDB's affected-row count, except
    the (class, tag) pairs of known defects in ``known_tags``."""
    mirror = oracle.Mirror(str(data_dir), list(datagen.ROWS_ALL))
    try:
        for sql in wl.setup:
            mirror.con.execute(sql)
        writes = any(r.step.write for r in recs)
        duck_memo: dict = {}
        wire_memo: dict = {}
        for rec in recs:
            step, res = rec.step, rec.res
            if res.error:
                rec.check = f"server error: {res.error}"
                continue
            try:
                if step.write:
                    if step.kind == "copy":
                        rec.affected = mirror.copy_from(WRITE_TABLE, step.data, str(scratch))
                    else:
                        rec.affected = mirror.execute_dml(step.sql)
                    rec.table_rows = mirror.con.execute(
                        f"SELECT count(*) FROM {WRITE_TABLE}").fetchone()[0]
                    if (tag_count(res.tag) != rec.affected
                            and (step.cls, res.tag) not in known_tags):
                        rec.check = (f"command tag {res.tag!r}, DuckDB affected "
                                     f"{rec.affected} rows")
                    continue
                key = (step.sql, tuple(step.params))
                if writes or key not in duck_memo:
                    duck_memo[key] = oracle.digest(mirror.rows(step.sql, step.params))
                duck = duck_memo[key]
            except Exception as exc:  # noqa: BLE001 — DuckDB refused: record it
                rec.check = f"duckdb error: {exc}"
                continue
            wkey = (key, oracle.raw_digest(res.rows))
            if wkey not in wire_memo:
                wire_memo[wkey] = oracle.digest(oracle.wire_rows(res.rows, res.oids))
            wire = wire_memo[wkey]
            if wire != duck:
                got = set(oracle.wire_rows(res.rows, res.oids))
                want = set(mirror.rows(step.sql, step.params))
                rec.check = (
                    f"wire rows/hash {wire} != duckdb {duck}; wire only: "
                    f"{sorted(got - want, key=repr)[:3]}; duckdb only: "
                    f"{sorted(want - got, key=repr)[:3]}"
                )
    finally:
        mirror.close()


def tag_count(tag: str) -> int | None:
    parts = tag.split()
    return int(parts[-1]) if parts and parts[-1].isdigit() else None


# ------------------------------------------------------------------ metrics


def position_medians(timed: list[Rec], value) -> list[dict]:
    """For each statement position of the pass, the median of ``value(rec)``
    over the timed passes (positions where it is always None left out).
    A position holds one statement shape, so its median never mixes
    statement classes."""
    by_pos: dict[int, list[Rec]] = {}
    for r in timed:
        by_pos.setdefault(r.pos, []).append(r)
    out = []
    for pos, rs in sorted(by_pos.items()):
        vals = [v for v in map(value, rs) if v is not None]
        if vals:
            out.append({"pos": pos, "class": rs[0].step.cls,
                        "median_s": statistics.median(vals), "samples": len(vals)})
    return out


def class_medians(timed: list[Rec]) -> dict[str, float]:
    """Median latency of each statement class, its samples pooled over
    positions and timed passes."""
    walls: dict[str, list[float]] = {}
    for r in timed:
        walls.setdefault(r.step.cls, []).append(r.res.wall)
    return {cls: statistics.median(w) for cls, w in walls.items()}


def e2e_metrics(timed: list[Rec], pass_walls: list[float], setup_s: float,
                rss_mb: float) -> tuple[dict, dict]:
    lat = position_medians(timed, lambda r: r.res.wall)
    first = position_medians(timed, lambda r: r.res.to_first_row)
    classes = class_medians(timed)
    values = {
        "setup_s": (setup_s, "s"),
        "pass_s": (statistics.median(pass_walls), "s"),
        "stmt_p50_s": (statistics.median(p["median_s"] for p in lat), "s"),
        "first_row_p50_s": (statistics.median(p["median_s"] for p in first), "s"),
        "py_rss_mb": (rss_mb, "MB"),
    }
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in values.items()}
    return metrics, {"latency": lat, "first_row": first, "classes": classes}


def layer_metrics(recs: list[Rec], spans: list[dict], record: dict) -> dict:
    """Per-layer metrics of the traced passes; a statement whose trace is
    faulty (see ``layers``) fails its check."""
    timed = [r for r in recs if r.phase == "timed"]
    traced = [r for r in timed if r.traced]
    windows = [(r.res.sent, r.res.done) for r in traced]
    stmts = layers.per_statement(spans, windows)
    for r, st in zip(traced, stmts):
        if st["faults"] and not r.check:
            r.check = f"trace: {'; '.join(st['faults'][:3])}"
    passes, changed_bytes = [], 0.0
    for idx in sorted({r.pass_index for r in traced}):
        sel = [i for i, r in enumerate(traced) if r.pass_index == idx]
        passes.append(layers.pass_totals([stmts[i] for i in sel],
                                         [traced[i].res.wall for i in sel]))
    for r, st in zip(traced, stmts):
        for a in st["dml"]:
            table_bytes = a.get("dir_bytes", {}).get(WRITE_TABLE, 0)
            if r.affected and r.table_rows:
                changed_bytes += r.affected * table_bytes / r.table_rows
    pass_walls = record["timed_pass_walls"]
    traced_walls = [w for w, t in zip(pass_walls, record["timed_pass_traced"]) if t]
    untraced_walls = [w for w, t in zip(pass_walls, record["timed_pass_traced"]) if not t]
    setup = layers.setup_layers([s for s in spans if s["name"].startswith("session.")])
    record["trace"] = {
        "statements": [
            {"pass": r.pass_index, "class": r.step.cls, "wall_s": r.res.wall, **st}
            for r, st in zip(traced, stmts)
        ],
        "passes": passes,
    }
    values = layers.summarize(passes, changed_bytes, untraced_walls, traced_walls, setup)
    covered = sum(values[k] for k in layers.STATEMENT_LAYERS)
    wall = statistics.fmean(p["wall_s"] for p in passes)
    print(f"traced pass: layer self times {covered:.4f} s + unattributed "
          f"{values['unattributed_s']:.4f} s = statement wall {wall:.4f} s; "
          f"tracing overhead {values['tracing_overhead']:+.3f}", file=sys.stderr)
    return {k: {"value": v, "unit": layers.PER_LAYER[k]} for k, v in values.items()}


# ------------------------------------------------------------------ one run


def run(wl: Workload, seed: int, seconds: float, trace: bool, work: Path) -> dict:
    data_dir = work / "data"
    rows = datagen.write(seed, str(data_dir))
    server = Server(work, data_dir, trace)
    recs: list[Rec] = []
    record: dict = {
        "workload": wl.name, "seed": seed, "seconds": seconds, "trace": trace,
        "spark_graft_cpus": SPARK_CPUS, "driver_mem": DRIVER_MEM, "rows": rows,
    }
    try:
        client, setup_s = server.connect()
        if trace:
            server.set_tracing(False, client)
        for sql in wl.setup:
            res = client.query(sql)
            if res.error:
                raise RuntimeError(f"set-up statement failed: {sql}: {res.error}")
        record["warmup_pass_walls"] = [
            run_pass(client, wl, seed, -1 - i, "warmup", False, recs)
            for i in range(WARMUP_PASSES)
        ]
        n = timed_passes(seconds)
        if trace:
            n += n % 2  # untraced and traced passes alternate, as many of each
        flags = [trace and i % 2 == 1 for i in range(n)]
        walls = []
        ticks0 = cpu_ticks()
        for i, traced in enumerate(flags):
            if trace:
                server.set_tracing(traced, client)
            walls.append(run_pass(client, wl, seed, i, "timed", traced, recs))
        ticks1 = cpu_ticks()
        record.update(timed_pass_walls=walls, timed_pass_traced=flags,
                      timed_steal_share=(ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0]))
        # the JVM's peak follows G1's heap sizing and spreads ~11% run to
        # run on identical code, so only the Python processes are a metric
        record["peak_rss_mb"] = server.peak_rss_mb()
        rss_mb = sum(v for k, v in record["peak_rss_mb"].items() if not k.endswith(":java"))
        if trace:
            server.set_tracing(False, client)
        for sql in wl.teardown:
            client.query(sql)
        client.close()
    finally:
        server.stop()
    record["server_stopped_s"] = time.monotonic() - server.started
    record["server_stop_forced"] = server.forced_stop
    excluded = json.loads((HERE / "excluded.json").read_text())
    known_tags = {(d["class"], d["tag"]) for d in excluded["known_tag_defects"]}
    check(recs, wl, data_dir, work, known_tags)
    timed = [r for r in recs if r.phase == "timed"]
    if trace:
        spans = json.loads(server.spans_path.read_text())
        record["trace_missing_wrappers"] = spans["missing"]
        metrics = layer_metrics(recs, spans["spans"], record)
    else:
        metrics, record["statement_positions"] = e2e_metrics(timed, walls, setup_s, rss_mb)
    failed = [r for r in recs if r.check]
    tag_mismatch = [
        {"sql": r.step.sql[:120], "tag": r.res.tag, "duckdb_affected": r.affected}
        for r in recs
        if r.step.write and not r.check and tag_count(r.res.tag) != r.affected
    ]
    record["failures"] = [
        {"phase": r.phase, "pass": r.pass_index, "class": r.step.cls,
         "sql": r.step.sql[:300], "check": r.check}
        for r in failed
    ]
    record["known_tag_defects"] = tag_mismatch
    record["registry_failing_over_wire"] = [f["name"] for f in excluded["failed_over_wire"]]
    record["statements"] = [
        {"phase": r.phase, "pass": r.pass_index, "traced": r.traced, "class": r.step.cls,
         "kind": r.step.kind, "wall_s": r.res.wall, "first_row_s": r.res.to_first_row,
         "rows": len(r.res.rows), "bytes_in": r.res.bytes_in, "tag": r.res.tag,
         "check": r.check or "ok"}
        for r in recs
    ]
    record["metrics"] = metrics
    for f in record["failures"]:
        print(f"FAILED [{f['phase']} pass {f['pass']} {f['class']}] {f['check']}\n"
              f"  {f['sql']}", file=sys.stderr)
    print(f"note: {len(record['registry_failing_over_wire'])} of "
          f"{excluded['registry_statements']} registry statements fail over the wire "
          "and are left out of the workloads (perfbench/excluded.json)", file=sys.stderr)
    if tag_mismatch:
        print(f"note: {len(tag_mismatch)} write command tags show a known defect "
              f"(perfbench/excluded.json), e.g. {tag_mismatch[0]}", file=sys.stderr)
    timed_failed = sum(1 for r in timed if r.check)
    return {
        "record": record,
        "line": {"correct": not failed, "attempted": len(timed),
                 "failed": timed_failed, "metrics": metrics},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "duckdb_pgwire_spark" / "server" / "__main__.py").is_file():
        print(f"no duckdb_pgwire_spark package under {ROOT}: run from a checkout",
              file=sys.stderr)
        return 2
    base = ROOT / ".perfbench"
    work = base / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        out = run(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    records = base / "records"
    records.mkdir(exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}.json"
    (records / name).write_text(json.dumps(out["record"], indent=1))
    print(json.dumps(out["line"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
