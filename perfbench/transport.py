"""Fixed-latency LLM transport for the pipeline workload.

Every call waits ``latency_s`` and answers 200 with markdown that
carries a per-school marker, except the first attempt of each document
of a seeded set of flaky schools, which answers a transient 500 (never
429). The enrich stage runs inside Python workers, so calls are counted
through per-process log files rather than in this object.
"""

from __future__ import annotations

import asyncio
import hashlib
import json
import os
import time
from typing import Any

from skoltexter_by_ai_spark.operators.enrich import TransportResult


def marker(code: str) -> str:
    return f"enriched-{code}"


def enriched_markdown(code: str) -> str:
    return (
        f"## Om skolan\n\nSkolan **{code}** beskrivs här. {marker(code)}\n\n"
        "- Trygg miljö\n- Engagerade lärare\n"
    )


class FixedLatencyTransport:
    def __init__(self, log_dir: str, latency_s: float, flaky: set[str]):
        self.log_dir = log_dir
        self.latency_s = latency_s
        self.flaky = frozenset(flaky)
        self.attempts: dict[tuple[str, str], int] = {}

    async def post(self, key: str, payload: dict[str, Any]) -> TransportResult:
        # A repeated school code sends two different documents; count
        # attempts per document so each one sees its own first attempt.
        doc = hashlib.sha1(json.dumps(payload, sort_keys=True).encode()).hexdigest()
        attempt = self.attempts.get((key, doc), 0)
        self.attempts[(key, doc)] = attempt + 1
        start = time.time()
        await asyncio.sleep(self.latency_s)
        if attempt == 0 and key in self.flaky:
            result = TransportResult(500, "transient upstream error")
        else:
            body = {"choices": [{"message": {"content": enriched_markdown(key)}}]}
            result = TransportResult(200, json.dumps(body))
        line = json.dumps([key, attempt, result.status, start, time.time()])
        with open(os.path.join(self.log_dir, f"calls-{os.getpid()}.jsonl"), "a") as fh:
            fh.write(line + "\n")
        return result


def read_call_log(log_dir: str) -> list[tuple[str, int, int, float, float]]:
    calls = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as fh:
            calls += [tuple(json.loads(line)) for line in fh]
    return calls


def busy_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total
