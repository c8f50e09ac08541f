"""Correctness checks, made after the timed window.

Each check returns a list of failure strings; an empty list passes. Every
failure counts as one failed op in the result line.
"""


def record_checks(rec):
    """Comparisons the JVM side recorded: route counts, DSP calls and
    sampled features for klio_batch, reads against the table model and
    round-boundary state for lake_mixed.
    """
    return [f"{c['name']}: expected {c['expected']!r}, got {c['actual']!r}"
            for c in rec["checks"] if c["expected"] != c["actual"]]


def failed_ops(ops):
    return [f"op {o['id']} ({o['kind']}) failed: {o['error']}"
            for o in ops if not o["ok"]]
