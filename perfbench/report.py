"""Human-readable report of one run: host context, every end-to-end
metric by name and unit, the answer-check verdict and, for a traced run,
the per-layer table and metrics."""


def _fmt(v):
    return f"{v:.4f}" if isinstance(v, float) else str(v)


def render(context, verdict, e2e, classes, layers, table, untraced):
    lines = [f"# perfbench {context['workload']} seed={context['seed']} "
             f"trace={context['trace']}", "", "## Context", ""]
    lines += [f"- {k}: {v}" for k, v in context.items()]
    lines += ["", "## End-to-end", "", "| metric | value | unit |", "|---|---|---|"]
    lines += [f"| {k} | {_fmt(v['value'])} | {v['unit']} |" for k, v in e2e.items()]
    lines += ["", "| operation class | n | p50 ms | max ms |", "|---|---|---|---|"]
    lines += [f"| {k} | {n} | {p50:.1f} | {mx:.1f} |" for k, (n, p50, mx) in classes.items()]
    lines += ["", f"op_fail_ratio = {verdict['failed']} failed / {verdict['attempted']} "
              "attempted (timed operations plus check comparisons)"]
    for r in verdict["reasons"]:
        lines.append(f"- {r}")
    if layers is not None:
        if untraced is not None:
            over = 1 - e2e["ops_per_s"]["value"] / untraced["ops_per_s"]["value"]
            lines += ["", f"Tracing overhead: traced ops_per_s "
                      f"{e2e['ops_per_s']['value']:.3f} vs untraced "
                      f"{untraced['ops_per_s']['value']:.3f} ({over:+.1%})."]
        lines += ["", "## Per-layer spans", "",
                  "| span | n | p50 ms | total ms | self ms | jobs/span | stages/span "
                  "| driver gap p50 ms | store bytes |", "|---|---|---|---|---|---|---|---|---|"]
        lines += [f"| {r['span']} | {r['n']} | {r['p50_ms']:.2f} | {r['total_ms']:.1f} | "
                  f"{r['self_ms']:.1f} | {r['jobs_per_span']:.2f} | {r['stages_per_span']:.2f} | "
                  f"{r['driver_gap_p50_ms']:.2f} | {r['store_bytes']} |" for r in table]
        lines += ["", "## Per-layer metrics", "", "| metric | value | unit |", "|---|---|---|"]
        lines += [f"| {k} | {_fmt(v['value'])} | {v['unit']} |" for k, v in layers.items()]
    return "\n".join(lines) + "\n"
