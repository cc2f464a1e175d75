"""Seeded inputs for the benchmark: vendor JSONL landings and a document
corpus with planted duplicate families.

The landing generator reuses ``tools/generate_events.make_event`` unchanged,
so payload dialects, drift and lateness match the repository's fixture
generator. Three things differ from that script's ``main``:

- the order pool is shared across days, so payments, refunds and order
  updates in one landing file reference orders created in earlier files;
- part of the duplicates are re-ingested the next day and land in the next
  file, so duplicates cross file boundaries (late events already do: their
  ``event_time`` lags the landing day by 1-7 days);
- every day is drawn from a seed of its own, so the history days can stay
  the same in every run while the released days follow the run's seed.

``make_event`` tests ``order_id not in order_pool`` on every call, which is
quadratic against a plain list; ``_OrderPool`` answers it from a set and
leaves the random stream identical.
"""

from __future__ import annotations

import json
import os
import random
from datetime import datetime, timedelta, timezone

from tools.generate_events import _iso, make_event

DUP_RATE = 0.05
LATE_RATE = 0.10
DRIFT_RATE = 0.15
FIRST_DAY = datetime(2026, 1, 1, tzinfo=timezone.utc)


class _OrderPool(list):
    """A list with O(1) membership; ``rng.choice`` still indexes the list."""

    def __init__(self) -> None:
        super().__init__()
        self._members: set[str] = set()

    def __contains__(self, item: object) -> bool:
        return item in self._members

    def append(self, item: str) -> None:
        super().append(item)
        self._members.add(item)


def landing_days(day_seeds: list[str], per_day: list[int]) -> list[list[dict]]:
    """One list of events per landing day, in file order. Day ``d`` is drawn
    from ``random.Random(day_seeds[d])`` and gets ``per_day[d]`` events plus
    its duplicates; the order pool carries over, so a day's events depend
    on the days before it only through the orders they created."""
    pool = _OrderPool()
    days = len(per_day)
    files: list[list[dict]] = [[] for _ in range(days)]
    for d in range(days):
        rng = random.Random(day_seeds[d])
        day = FIRST_DAY + timedelta(days=d)
        events = [
            make_event(rng, day, pool, DRIFT_RATE, LATE_RATE)
            for _ in range(per_day[d])
        ]
        for e in rng.sample(events, int(len(events) * DUP_RATE)):
            dup = dict(e)
            ingested = datetime.strptime(e["ingested_at"], "%Y-%m-%dT%H:%M:%SZ")
            if d + 1 < days and rng.random() < 0.5:
                dup["ingested_at"] = _iso(ingested + timedelta(days=1))
                files[d + 1].append(dup)
            else:
                dup["ingested_at"] = _iso(ingested + timedelta(minutes=5))
                files[d].append(dup)
        files[d].extend(events)
        rng.shuffle(files[d])
    return files


def day_name(d: int) -> str:
    return (FIRST_DAY + timedelta(days=d)).strftime("%Y-%m-%d")


def malformed_lines(day_seeds: list[str], per_day: int = 4) -> list[list[str]]:
    """Lines the loader must count and skip: truncated JSON and envelopes
    without an ``event_id`` (the reference loader's two skip causes)."""
    out = []
    for d, seed in enumerate(day_seeds):
        rng = random.Random(f"malformed:{seed}")
        lines = []
        for i in range(per_day):
            env = {"event_type": "order_created", "vendor": rng.choice(("vendor_a", "vendor_b")),
                   "payload": json.dumps({"order_id": f"ORD-bad{d}-{i}"}),
                   "event_time": f"{day_name(d)}T00:00:00Z"}
            line = json.dumps(env)
            lines.append(line[: rng.randrange(10, len(line) - 2)] if i % 2 else line)
        out.append(lines)
    return out


def write_day(root: str, d: int, events: list[dict], extra_lines: list[str] = ()) -> str:
    """Write ``<root>/<YYYY-MM-DD>/events.jsonl`` (the landing layout the
    readers and the file stream expect); returns the day directory."""
    path = os.path.join(root, day_name(d))
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "events.jsonl"), "w") as f:
        f.writelines(json.dumps(e) + "\n" for e in events)
        f.writelines(line + "\n" for line in extra_lines)
    return path


def write_fx_rates(path: str, seed: int, days: int) -> None:
    """Daily USDNGN rates with a few gap days (as-of fallback is exercised)."""
    rng = random.Random(seed ^ 0xF0F0)
    rate = 1500.0
    with open(path, "w") as f:
        f.write("date,USDNGN\n")
        for d in range(-10, days):
            rate = round(rate * (1 + rng.uniform(-0.01, 0.01)), 4)
            if rng.random() < 0.15:
                continue
            f.write(f"{(FIRST_DAY + timedelta(days=d)).strftime('%Y-%m-%d')},{rate}\n")


WORDS = [f"w{i:04d}" for i in range(4000)]


def corpus_docs(seed: int, n_docs: int, n_exact: int, n_near: int, family: int = 3):
    """Documents with planted duplicate families.

    Returns (rows, exact_families, near_families): rows are
    (doc_id, text, source); each family is a list of doc ids. Exact
    families share one text; near families differ only in one appended
    token (shingle Jaccard ~0.98, so MinHash banding finds them with
    overwhelming probability). Texts carry repeated lines and PII so the
    scrub stage does real work."""
    rng = random.Random(seed ^ 0xC0FFEE)

    def text() -> str:
        lines = []
        for _ in range(rng.randrange(4, 8)):
            lines.append(" ".join(rng.choice(WORDS) for _ in range(rng.randrange(18, 30))))
        lines.append(lines[0])  # repeated line: removed by scrub's line dedup
        if rng.random() < 0.3:
            lines.append(f"contact u{rng.randrange(10**6)}@mail.example.com")
        return "\n".join(lines)

    rows: list[tuple[int, str, str]] = []
    next_id = 1

    def add(t: str) -> int:
        nonlocal next_id
        doc_id = next_id
        next_id += rng.randrange(1, 4)
        rows.append((doc_id, t, f"src{doc_id % 5}"))
        return doc_id

    exact_families, near_families = [], []
    for _ in range(n_exact):
        t = text()
        exact_families.append([add(t) for _ in range(family)])
    for _ in range(n_near):
        t = text()
        near_families.append(
            [add(t + (f"\n{rng.choice(WORDS)}" if i else "")) for i in range(family)]
        )
    while len(rows) < n_docs:
        add(text())
    order = list(range(len(rows)))
    rng.shuffle(order)
    return [rows[i] for i in order], exact_families, near_families
