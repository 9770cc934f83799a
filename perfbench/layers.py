"""Per-layer figures from the traced server's spans.

Spans are assigned to the client statement whose send→ReadyForQuery
window contains their start (both processes read CLOCK_MONOTONIC). A
span's self time is its duration minus its children's; each layer's
figure is the sum of its spans' self times, and per statement

    sum(layer self times) + unattributed = client wall

where ``unattributed`` is what no wrapped layer covers (client framing,
kernel socket, event-loop hand-offs, and the server's write of
ReadyForQuery, which overlaps the client's receipt of it).

That sum is only meaningful if spans never overlap except by nesting.
Two faults show that they did, and fail a traced run: a statement whose
layer self times exceed its wall (negative ``unattributed``), and a span
that ends after the server wrote the statement's ReadyForQuery (the
``protocol.ready`` marker), i.e. work the trace would count twice or in
the wrong statement.
"""

from __future__ import annotations

import bisect
import statistics

# span name → the per-layer metric its self time adds to
LAYER_OF = {
    "session.build": "session.build_s",
    "session.register_views": "session.register_views_s",
    "compat.split": "compat.split_s",
    "compat.rewrite": "compat.rewrite_s",
    "app.statement": "app.dispatch_s",
    "app.extended": "app.dispatch_s",
    "app.typer": "app.typer_s",
    "app.typer.probe": "app.typer_s",
    "app.introspection": "app.introspection_s",
    "spark.analyze": "spark.analyze_s",
    "spark.first_row": "spark.first_row_s",
    "app.fetch": "app.fetch_s",
    "typemap.encode": "typemap.encode_s",
    "protocol.frame_write": "protocol.frame_write_s",
    "socket.drain_wait": "socket.drain_wait_s",
    "dml.insert": "dml.insert_s",
    "dml.update": "dml.update_s",
    "dml.delete": "dml.delete_s",
    "dml.copy_in": "dml.copy_in_s",
}
READY = "protocol.ready"  # marker span: the server writes ReadyForQuery
STATEMENT_LAYERS = sorted({v for k, v in LAYER_OF.items() if not k.startswith("session.")})
SETUP_LAYERS = ("session.build_s", "session.register_views_s")
COUNTS = (
    "compat.rewrite_calls",
    "app.typer_lookups",
    "app.typer_hits",
    "app.typer_probes",
    "app.cache_clears",
    "spark.jobs",
    "spark.stages",
    "protocol.rows_out",
    "protocol.bytes_out",
    "dml.files_written",
    "dml.bytes_written",
)

# every per-layer metric a traced run prints, with its unit
PER_LAYER = {
    **{name: "s" for name in SETUP_LAYERS},
    **{name: "s" for name in STATEMENT_LAYERS},
    **{name: ("bytes" if name.endswith("bytes_out") else "count")
       for name in COUNTS if name not in ("app.typer_hits", "dml.bytes_written")},
    "app.typer_cache_hit_ratio": "ratio",
    "dml.write_amplification": "ratio",
    "unattributed_s": "s",
    "tracing_overhead": "ratio",
}


def self_times(spans: list[dict]) -> dict[int, float]:
    child = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - child.get(s["id"], 0.0) for s in spans}


def per_statement(spans: list[dict], windows: list[tuple[float, float]]) -> list[dict]:
    """Layer self times, counts and trace faults for each (sent, done)
    window."""
    selft = self_times(spans)
    by_id = {s["id"]: s for s in spans}
    starts = [w[0] for w in windows]
    out = [{"layers": {}, "counts": {}, "dml": [], "faults": []} for _ in windows]
    ready: dict[int, float] = {}
    assigned: list[tuple[int, dict]] = []
    for s in spans:
        i = bisect.bisect_right(starts, s["start"]) - 1
        if i < 0 or s["start"] > windows[i][1]:
            continue
        if s["name"] == READY:
            ready[i] = max(ready.get(i, s["start"]), s["start"])
            continue
        assigned.append((i, s))
        st = out[i]
        layer = LAYER_OF.get(s["name"])
        if layer is not None:
            st["layers"][layer] = st["layers"].get(layer, 0.0) + selft[s["id"]]
        c, a, name = st["counts"], s["attrs"], s["name"]

        def bump(key, n=1):
            c[key] = c.get(key, 0) + n

        parent = by_id.get(s["parent"])
        if name == "compat.rewrite" and (parent is None or parent["name"] != name):
            bump("compat.rewrite_calls")
        elif name == "app.typer":
            bump("app.typer_lookups")
            bump("app.typer_hits", int(bool(a.get("hit"))))
        elif name == "app.typer.probe":
            bump("app.typer_probes")
        elif name.startswith("dml.") and "files_written" in a:
            bump("dml.files_written", a["files_written"])
            bump("dml.bytes_written", a["bytes_written"])
            st["dml"].append(a)
        bump("app.cache_clears", a.get("cache_clears", 0))
        bump("spark.jobs", a.get("jobs", 0))
        bump("spark.stages", a.get("stages", 0))
        if name == "protocol.frame_write":
            bump("protocol.rows_out", a.get("calls", 0))
            bump("protocol.bytes_out", a.get("bytes", 0))
    for i, s in assigned:
        if i not in ready:
            out[i]["faults"].append("no ReadyForQuery marker in the statement window")
        elif s["end"] > ready[i]:
            out[i]["faults"].append(
                f"span {s['name']} ends {s['end'] - ready[i]:.6f} s after ReadyForQuery")
    for (sent, done), st in zip(windows, out):
        covered = sum(st["layers"].values())
        if covered > done - sent:
            st["faults"].append(
                f"layer self times {covered:.6f} s exceed the wall {done - sent:.6f} s")
    return out


def setup_layers(spans: list[dict]) -> dict[str, float]:
    selft = self_times(spans)
    out = {name: 0.0 for name in SETUP_LAYERS}
    for s in spans:
        layer = LAYER_OF.get(s["name"])
        if layer in out:
            out[layer] += selft[s["id"]]
    return out


def pass_totals(stmts: list[dict], walls: list[float]) -> dict[str, float]:
    tot = {name: 0.0 for name in STATEMENT_LAYERS}
    tot.update({name: 0 for name in COUNTS})
    for st in stmts:
        for k, v in st["layers"].items():
            tot[k] += v
        for k, v in st["counts"].items():
            tot[k] += v
    covered = sum(tot[name] for name in STATEMENT_LAYERS)
    tot["wall_s"] = sum(walls)
    tot["unattributed_s"] = tot["wall_s"] - covered
    return tot


def summarize(passes: list[dict], changed_bytes: float, untraced_walls: list[float],
              traced_walls: list[float], setup: dict[str, float]) -> dict[str, float]:
    """Mean over traced passes of each per-pass total, so the layer
    figures plus ``unattributed_s`` add up to the mean pass's statement
    wall; ratios over all traced passes together."""
    out: dict[str, float] = dict(setup)
    for name in (*STATEMENT_LAYERS, *COUNTS, "unattributed_s"):
        out[name] = statistics.fmean(p[name] for p in passes)
    lookups = sum(p["app.typer_lookups"] for p in passes)
    hits = sum(p["app.typer_hits"] for p in passes)
    out["app.typer_cache_hit_ratio"] = hits / lookups if lookups else 0.0
    written = sum(p["dml.bytes_written"] for p in passes)
    out["dml.write_amplification"] = written / changed_bytes if changed_bytes else 0.0
    out["tracing_overhead"] = (
        statistics.median(traced_walls) / statistics.median(untraced_walls) - 1.0
    )
    return {name: out[name] for name in PER_LAYER}
