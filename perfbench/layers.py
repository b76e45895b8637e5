"""Per-layer metrics of a traced run, from its spans, counts, event log and
streaming listener. Each metric is computed per traced warm pass and the
median over those passes is reported."""

from __future__ import annotations

import statistics


def _pass_metrics(spans, counts, batches, log) -> dict[str, float]:
    def total(name, attr="s"):
        return sum(getattr(s, attr) for s in spans if s.name == name)

    m: dict[str, float] = {
        "catalog.table_calls": sum(1 for s in spans if s.name == "catalog.table"),
        "catalog.table_s": total("catalog.table"),
        "catalog.table_jobs": total("catalog.table", "jobs"),
        "build.s": total("build"),
        "build.jobs": total("build", "jobs"),
        "exec.s": total("exec"),
        "exec.jobs": total("exec", "jobs"),
        "sources.ingest_s": total("sources.ingest_directory"),
        "sources.ingest_jobs": total("sources.ingest_directory", "jobs"),
        "models.run_s": total("models.run"),
        "models.jobs": total("models.run", "jobs"),
        "models.slowest_model_s": max((s.s for s in spans if s.name == "models.model"), default=0),
        "upsert.final_load_s": total("upsert.final_load"),
        "upsert.jobs": total("upsert.final_load", "jobs"),
    }
    exec_jobs = {j for s in spans if s.name == "exec" for j in range(s.j0, s.j1)}
    for k, v in vars(log.stats(exec_jobs)).items():
        m[f"exec.{k}"] = v
    for s in spans:
        if s.name in ("build", "exec"):
            m[f"op.{s.op}.{s.name}_s"] = s.s
        if s.name == "build":
            m[f"op.{s.op}.build_jobs"] = s.jobs
    c: dict[str, float] = {}
    for name, v in counts:
        c[name] = c.get(name, 0) + v
    m["sources.files"] = c.get("sources.files", 0)
    m["sources.write_amp"] = c.get("sources.write_amp", 0)
    if c.get("upsert.batch_rows"):
        m["upsert.rewrite_ratio"] = c["upsert.rows_rewritten"] / c["upsert.batch_rows"]
    m["streaming.batches"] = len(batches)
    if batches:
        m["streaming.batch_ms_p50"] = statistics.median(b[0] for b in batches)
        m["streaming.state_rows"] = batches[-1][1]
    return m


def per_layer(tracer, listener, log, walls: dict, setup: dict) -> dict[str, float]:
    """``walls`` maps traced (True) / untraced (False) to warm pass times;
    ``setup`` holds the set-up layer times."""
    passes = sorted({s.pass_no for s in tracer.spans})
    rows = [
        _pass_metrics(
            [s for s in tracer.spans if s.pass_no == p],
            [(n, v) for q, n, v in tracer.counts if q == p],
            [(b[2], b[3]) for b in listener.batches if b[0] == p],
            log,
        )
        for p in passes
    ]
    out = dict(setup)
    for name in {k for r in rows for k in r}:
        out[name] = statistics.median(r.get(name, 0) for r in rows)
    traced, plain = statistics.median(walls[True]), statistics.median(walls[False])
    out["trace.pass_s"] = traced
    out["trace.overhead_s"] = traced - plain
    return out
