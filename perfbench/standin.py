"""Benchmark-side LLM stand-in for ``enrichment.enrich(backend_factory=...)``.

Each call sleeps a fixed latency, then either fails or returns one
generated row per input row. Failures follow a schedule keyed by the row's
``item_id``: a ``once`` row fails on its first call and succeeds on the
retry, an ``always`` row fails on every call and so ends as the
framework's fallback row. The schedule is a pure function of the key, so
the reference can compute every expected output row.

Every call appends ``start end n_rows ok|fail`` (wall-clock seconds) to a
per-process log file under ``log_dir``; the benchmark reads these files to
count calls and retries and to measure how many calls were in flight.
"""

from __future__ import annotations

import hashlib
import os
import time
import uuid

# Latency of one call, chosen rather than measured: a hosted model takes far
# longer, and the workload would then time the stand-in's sleep. At 10 ms
# the enrichment framework's own per-call and per-task costs stay visible
# next to the time calls spend in the backend.
CALL_LATENCY_S = 0.010
GEN_CATEGORIES = ("Appetizers", "Beverages", "Desserts", "Pizza", "Salads", "Soups")


def schedule(item_id: int, fail_once: float, fail_always: float) -> str:
    """``ok``, ``once`` or ``always`` for one row, from its key."""
    u = int(hashlib.md5(f"sched|{item_id}".encode()).hexdigest()[:8], 16) / 2**32
    if u < fail_always:
        return "always"
    if u < fail_always + fail_once:
        return "once"
    return "ok"


def generated_row(name: str) -> dict:
    """What the stand-in returns for a row on a successful call."""
    h = int(hashlib.md5(name.encode()).hexdigest()[:8], 16)
    return {
        "gen_name": name.strip(),
        "gen_description": f"{name.strip()}, prepared fresh",
        "gen_brand": "House Special",
        "gen_category": GEN_CATEGORIES[h % len(GEN_CATEGORIES)],
        "gen_subcategory": "chef picks",
    }


class StandInLLM:
    """``EnrichmentBackend``: fixed latency, failure schedule, call log."""

    def __init__(self, log_dir: str, fail_once: float, fail_always: float):
        self.fail_once = fail_once
        self.fail_always = fail_always
        self.seen: set[int] = set()
        self.log_path = os.path.join(log_dir, f"calls-{os.getpid()}-{uuid.uuid4().hex}.log")

    def process_batch(self, rows: list[dict]) -> list[dict]:
        start = time.time()
        time.sleep(CALL_LATENCY_S)
        fail = False
        for r in rows:
            kind = schedule(int(r["item_id"]), self.fail_once, self.fail_always)
            if kind == "always" or (kind == "once" and r["item_id"] not in self.seen):
                fail = True
            self.seen.add(r["item_id"])
        with open(self.log_path, "a") as fh:
            fh.write(f"{start} {time.time()} {len(rows)} {'fail' if fail else 'ok'}\n")
        if fail:
            raise ConnectionError("stand-in: scheduled failure")
        return [generated_row(r["product_name"]) for r in rows]


class StandInFactory:
    """Picklable ``backend_factory``: one stand-in per executor task."""

    def __init__(self, log_dir: str, fail_once: float, fail_always: float):
        self.args = (log_dir, fail_once, fail_always)

    def __call__(self) -> StandInLLM:
        return StandInLLM(*self.args)


def read_call_log(log_dir: str) -> list[tuple[float, float, int, bool]]:
    """Every logged call as ``(start, end, n_rows, ok)``."""
    calls = []
    for name in sorted(os.listdir(log_dir)):
        if not name.startswith("calls-"):
            continue
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                s, e, n, outcome = line.split()
                calls.append((float(s), float(e), int(n), outcome == "ok"))
    return calls
