"""Turn one run's measurements into metrics, a result record and the
benchmark's output lines."""

from __future__ import annotations

import json
import os
import statistics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spec() -> dict:
    """Metric names, units, directions and bounds: BENCHMARK.json's."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


_SELF_LAYERS = {
    "op.build": "index_build", "op.refresh": "index_build", "op.compact": "index_build",
    "op.request": "search", "op.batch": "search",
    "query.parser.parse_query": "query.parser",
    "query.snippet.snippet_pair": "query.snippet",
}


def _median(values, default=None):
    values = list(values)
    return statistics.median(values) if values else default


def _p90(values):
    values = sorted(values)
    return statistics.quantiles(values, n=10)[8] if len(values) >= 2 else values[0]


def end_to_end(r, rss: float) -> dict[str, float]:
    reqs = [q for q in r.requests if q["stage"] != "warmup"]
    return {
        "setup_s": r.setup_s,
        "build_docs_per_s": _median(b["n_docs"] / b["wall"] for b in r.builds),
        "refresh_s": _median(x["wall"] for x in r.refreshes),
        "index_bytes_per_text_byte": r.index_bytes_ratio,
        "search_mean_s": statistics.mean(q["wall"] for q in reqs),
        "batch_qps": sum(len(b["queries"]) for b in r.batches) / sum(b["wall"] for b in r.batches),
        "peak_rss_mb": rss,
    }


def _request_parts(r, tracer_spans) -> dict[str, dict[str, list[float]]]:
    """Per shape class: each request's wall split by Spark action."""
    roots = {s["op"]: s for s in tracer_spans if s["parent"] is None}
    kids: dict[int, list[dict]] = {}
    for s in tracer_spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    parts: dict[str, dict[str, list[float]]] = {}
    for q in r.requests:
        if q["stage"] == "warmup" or q["op"] is None:
            continue
        root = roots[q["op"]]
        ks = kids.get(root["id"], [])
        actions = [k for k in ks if k["name"].startswith("spark.collect.")]
        first = min((k["start"] for k in actions), default=root["end"])
        acc = {"plan": first - root["start"], "dict": 0.0, "match_score": 0.0, "lookup": 0.0, "snippet": 0.0}
        for k in actions:
            label = k["name"][len("spark.collect."):]
            if label not in acc:
                # a Spark action the split does not know: the engine's
                # request path changed, and perfbench/trace.py must learn it
                raise ValueError(f"request {q['q']!r}: unlabelled Spark action {k['name']}")
            acc[label] += k["end"] - k["start"]
        for k in ks:
            if k["name"] == "query.snippet.snippet_pair":
                acc["snippet"] += k["end"] - k["start"]
        d = parts.setdefault(q["shape"], {})
        for name, v in acc.items():
            d.setdefault(name, []).append(v)
    return parts


def per_layer(r, jobs: dict, spans: list[dict], self_times: dict[str, float], rss: float) -> dict[str, float]:
    m: dict[str, float] = dict(r.kernel_metrics)
    m["peak_rss_mb"] = rss
    for key, phase in (("extract_write_s", "extract_and_doc_text_write"),
                       ("encode_write_s", "postings_encode_write"),
                       ("lineage_agg_s", "lineage_agg")):
        m[f"index_build.{key}"] = _median(b["phase_sec"].get(phase, 0.0) for b in r.builds)
    for kind, recs in (("build", r.builds), ("refresh", r.refreshes), ("compact", r.compacts)):
        counts = [jobs[x["op"]] for x in recs if x["op"] in jobs]
        m[f"index_build.jobs.{kind}"] = _median((c["jobs"] for c in counts), 0)
        m[f"index_build.tasks.{kind}"] = _median((c["tasks"] for c in counts), 0)
    c = r.compacts[-1] if r.compacts else {}
    m["index_build.compact_s"] = c.get("wall", 0.0)
    m["index_build.compact_bytes_rewritten"] = c.get("bytes_rewritten", 0)
    m["index_build.compact_files_before"] = c.get("files_before", 0)
    m["index_build.compact_files_after"] = c.get("files_after", 0)

    parts = _request_parts(r, spans)
    for shape in ("fast", "general"):
        for name in ("plan", "dict", "match_score", "lookup", "snippet"):
            m[f"search.{shape}.{name}_s"] = _median(parts.get(shape, {}).get(name, []), 0.0)
    reqs = [q for q in r.requests if q["stage"] != "warmup"]
    for shape in ("fast", "general"):
        m[f"search.jobs_per_query.{shape}"] = _median(
            (jobs[q["op"]]["jobs"] for q in reqs if q["shape"] == shape and q["op"] in jobs), 0
        )
    m["search.tasks_per_query"] = _median((jobs[q["op"]]["tasks"] for q in reqs if q["op"] in jobs), 0)
    m["search.batch_jobs"] = _median((jobs[b["op"]]["jobs"] for b in r.batches if b["op"] in jobs), 0)
    m["search.df_repeat_frac"] = df_repeat_frac(r.requests)
    m["search.p50_s"] = _median(q["wall"] for q in reqs)
    m["search.p90_s"] = _p90([q["wall"] for q in reqs])
    for shape in ("fast", "general"):
        m[f"search.{shape}.p50_s"] = _median(q["wall"] for q in reqs if q["shape"] == shape)

    layers: dict[str, float] = {}
    for name, secs in self_times.items():
        layer = "spark_actions" if name.startswith("spark.collect.") else _SELF_LAYERS.get(name)
        if layer:
            layers[layer] = layers.get(layer, 0.0) + secs
    for name in (x["name"] for x in spec()["per_layer"]):
        if name.startswith("self_s."):
            m[name] = layers.get(name[len("self_s."):], 0.0)
    return m


def df_repeat_frac(requests: list[dict]) -> float:
    """Share of the terms the measured requests send to the engine's df
    cache (the plain terms of fast-path queries) that the same engine had
    been sent before."""
    from pdfsearch_spark.analyzer import tokenize, unicode61_tokens
    from pdfsearch_spark.query.parser import parse_query
    from pdfsearch_spark.search import tree_has_no_near

    seen: dict[int, set[str]] = {}
    total = repeat = 0
    for q in requests:
        tree, phrases = parse_query(q["q"], tokenize, unicode61_tokens)
        fast = tree is not None and tree_has_no_near(tree) and all(
            len(p.terms) == 1 and not p.prefix and not p.anchored and p.col != "unindexed"
            for p in phrases
        )
        if not fast:
            continue
        cache = seen.setdefault(q["engine"], set())
        for t in sorted({p.terms[0] for p in phrases}):
            if q["stage"] != "warmup":
                total += 1
                repeat += t in cache
            cache.add(t)
    return repeat / total if total else 0.0


def record(r, jobs: dict, rss: float) -> dict:
    spans = [s.to_json() for s in r.tr.spans]
    reqs = [q for q in r.requests if q["stage"] != "warmup"]
    rec = {
        "e2e": end_to_end(r, rss),
        "attempted": r.gate.attempted,
        "failed": len(r.gate.mismatches),
        "mismatches": r.gate.mismatches,
        "ops_failed_frac": len(r.gate.mismatches) / max(r.gate.attempted, 1),
        "n_requests": len(reqs),
        "n_batch_queries": sum(len(b["queries"]) for b in r.batches),
        "n_builds": len(r.builds),
        "errors": [q["err"] for q in r.requests if q["err"]] + [b["err"] for b in r.batches if b["err"]],
        "ops": {
            "builds": [{k: b[k] for k in ("wall", "n_docs", "phase_sec")} for b in r.builds],
            "refreshes": [{k: x[k] for k in ("wall", "appended")} for x in r.refreshes],
            "compacts": [{k: v for k, v in x.items() if k != "op"} for x in r.compacts],
            "batches": [{"n": len(b["queries"]), "wall": b["wall"], "stage": b["stage"]} for b in r.batches],
            "requests": [{k: q[k] for k in ("cls", "shape", "q", "wall", "stage")} for q in r.requests],
        },
    }
    rec["tasks_failed"] = sum(c["tasks_failed"] for c in jobs.values())
    if r.tr.enabled:
        self_times = r.tr.self_times()
        rec["per_layer"] = per_layer(r, jobs, spans, self_times, rss)
        rec["self_times"] = self_times
        rec["jobs"] = jobs
    return rec


def result_line(rec: dict) -> dict:
    table = spec()["per_layer" if rec["trace"] else "end_to_end"]
    values = rec["per_layer"] if rec["trace"] else rec["e2e"]
    missing = [m["name"] for m in table if values.get(m["name"]) is None]
    if missing:
        raise ValueError(f"metrics not measured: {missing}")
    return {
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in table},
    }


def summary_lines(rec: dict, results_path: str) -> list[str]:
    """Human-readable lines printed before the result line."""
    out = [f"# {rec['workload']} seed={rec['seed']} trace={rec['trace']} "
           f"requests={rec['n_requests']} batch_queries={rec['n_batch_queries']} "
           f"builds={rec['n_builds']} attempted={rec['attempted']} failed={rec['failed']} "
           f"ops_failed_frac={rec['ops_failed_frac']:.4f} wall={rec['wall_s']:.1f}s"]
    out += [f"# MISMATCH {m}" for m in rec["mismatches"]]
    out += [f"# ERROR {e}" for e in rec["errors"]]
    if not rec["trace"]:
        return out
    for name, secs in sorted(rec["self_times"].items(), key=lambda kv: -kv[1]):
        out.append(f"# self {name:<32} {secs:9.3f} s")
    base = _last_untraced(results_path, rec["workload"], rec["seed"])
    if base is None:
        out.append("# tracing overhead: no untraced run of this workload to compare with")
        return out
    for name in (m["name"] for m in spec()["end_to_end"]):
        t, u = rec["e2e"][name], base["e2e"].get(name)
        if not u:
            continue
        out.append(f"# overhead {name:<28} traced {t:.6g} untraced {u:.6g} "
                   f"diff {t - u:+.6g} ({(t - u) / u:+.1%}) vs seed {base['seed']}")
    return out


def _last_untraced(path: str, workload: str, seed: int):
    if not os.path.exists(path):
        return None
    best = None
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            if rec.get("workload") == workload and not rec.get("trace"):
                if best is None or rec["seed"] == seed or best["seed"] != seed:
                    best = rec
    return best
