"""Seeded, reference-shaped bronze lake for the ``daily_elt`` workload.

Layout (reference ``pipedrive_bronze.py:145-146``)::

    bronze/{source}/[scope={scope}/]entity={e}/ingestion_date={d}/run_id={r}/part-NNNNN.jsonl.gz

Each run is split over several ``part-NNNNN.jsonl.gz`` files, as the
reference extractors write them, so fact scans get more than one gzip
task. Record shapes follow ``tests/fixtures.py`` (unknown extra keys,
duplicate tags, empty and null custom fields, null-key rows, exact
duplicate entries), with seeded values. One entity per source: EVO
entries (the large append-only fact), Pipedrive deals in two scopes and
Zendesk tickets with two child arrays.

Day 1 lands every key once. Day 2 re-sends about 40% of the keys with a
newer update timestamp and changed values, adds new keys and adds
null-key rows that the loader must drop. The generator returns what the
CORE tables must hold afterwards: per entity, each key's latest value of
one checked column.
"""

from __future__ import annotations

import gzip
import json
import os
import random

DAY_RUNS = {1: ("2026-08-01", "20260801T020000"), 2: ("2026-08-02", "20260802T020000")}
SCOPES = ("comercial", "expansao")


def _write_run(root: str, source: str, entity: str, day: int, records: list[dict],
               parts: int, scope: str | None) -> int:
    ingestion_date, run_id = DAY_RUNS[day]
    d = os.path.join(root, "bronze", source, *([f"scope={scope}"] if scope else []),
                     f"entity={entity}", f"ingestion_date={ingestion_date}", f"run_id={run_id}")
    os.makedirs(d, exist_ok=True)
    size = 0
    for p in range(parts):
        path = os.path.join(d, f"part-{p:05d}.jsonl.gz")
        with gzip.open(path, "wt") as f:
            for rec in records[p::parts]:
                f.write(json.dumps(rec) + "\n")
        size += os.path.getsize(path)
    return size


def _stamp(day: int) -> str:
    return f"2026-0{6 + day}-01T00:00:00Z"


def _entry(rng: random.Random, i: int) -> dict:
    return {
        "date": f"{2020 + i % 6}-{1 + i % 12:02d}-{1 + i % 28:02d}T{i % 24:02d}:{i % 60:02d}:00Z",
        "timeZone": "America/Sao_Paulo",
        "idMember": i % 5000 if i % 3 else None,
        "idProspect": None if i % 3 else i % 700,
        "idEmployee": 900 + rng.randint(0, 9),
        "idBranch": 1 + i % 5,
        "entryType": "regular",
        "entryAction": "Entry" if i % 2 else "Exit",
        "device": f"turnstile-{rng.randint(0, 3)}",
    }


def _deal(rng: random.Random, i: int, scope: str, day: int) -> dict:
    rec = {
        "id": i,
        "title": f"Deal {i} {scope} d{day}r{rng.randint(0, 999)}",
        "value": f"{rng.randint(100, 99999)}.50",
        "currency": "BRL",
        "status": rng.choice(["open", "won", "lost"]),
        "person_id": i % 400,
        "org_id": i % 50,
        "user_id": 1 + i % 5,
        "pipeline_id": 1 + i % 2,
        "stage_id": 1 + i % 6,
        "probability": rng.randint(0, 100),
        "add_time": "2026-01-01T00:00:00Z",
        "update_time": _stamp(day),
        "activities_count": rng.randint(0, 9),
    }
    if i % 2 == 0:
        rec[f"abc{i % 5}23_custom"] = f"custom-{i}"  # unknown key → custom_fields rescue
    return rec


def _ticket(rng: random.Random, i: int, day: int) -> dict:
    tags = ["vip", "billing", "vip"] if i % 2 else ["support"]  # duplicate tag
    return {
        "id": i,
        "subject": f"Ticket {i}",
        "description": "help",
        "status": rng.choice(["open", "pending", "solved", "closed"]) + f"-d{day}",
        "priority": rng.choice(["low", "normal", "high", None]),
        "requester_id": 100 + i % 10,
        "organization_id": i % 5,
        "group_id": 1 + i % 3,
        "via": {"channel": "email", "source": {"from": f"u{i}@x.com"}},
        "is_public": True,
        "tags": tags,
        "custom_fields": [
            {"id": 1, "value": f"v{i}" if i % 3 else ""},  # empty → filtered
            {"id": 2, "value": None},                      # null → filtered
            {"id": 3, "value": f"w{rng.randint(0, 99)}"},
        ],
        "created_at": "2026-01-01T00:00:00Z",
        "updated_at": _stamp(day),
    }


class BronzeLake:
    """Both days' bronze runs, built in memory from one seed.

    ``land(root, day)`` writes that day's runs; ``load_stg`` re-reads all
    bronze history, so day 2 must land only after day 1 has run.
    ``expected[entity]`` maps each CORE key to the latest value of the
    entity's checked column; ``expected["evo_entries"]`` is the number of
    distinct entries.
    """

    def __init__(self, *, seed: int, deals: int, tickets: int, entries: int, parts: int):
        rng = random.Random(seed)
        self.parts = parts
        self.runs: list[tuple[str, str, str | None, int, list[dict]]] = []
        self.expected: dict[str, object] = {}
        self.changed_keys = 0  # keys whose latest version a day's run changes, summed over days

        def two_days(source, entity, scope, n, make, key, value) -> dict:
            latest = {}
            resent = sorted(rng.sample(range(n), (2 * n) // 5))  # ~40%, newer stamp
            for day, ids in ((1, range(n)), (2, resent + list(range(n, n + n // 10)))):
                recs = [make(i, day) for i in ids]
                latest.update((r[key], r[value]) for r in recs)
                self.changed_keys += len(recs)
                if day == 2:
                    recs.append(make(n + n // 10, day) | {key: None})  # null key → dropped
                self.runs.append((source, entity, scope, day, recs))
            return latest

        self.expected["zd_tickets"] = two_days(
            "zendesk", "tickets", None, tickets, lambda i, d: _ticket(rng, i, d),
            "id", "status")
        deal_latest = {}
        for scope in SCOPES:
            latest = two_days("pipedrive", "deals", scope, deals,
                              lambda i, d, s=scope: _deal(rng, i, s, d), "id", "title")
            deal_latest.update(((k, scope), v) for k, v in latest.items())
        self.expected["pd_deals"] = deal_latest

        # Entries are append-only facts keyed by a hash of seven fields: day
        # 2 repeats a slice of day 1 (the extractor's overlap window) plus
        # new rows.
        day1 = [_entry(rng, i) for i in range(entries)]
        day2 = day1[-(entries // 10):] + [_entry(rng, entries + i) for i in range(entries // 2)]
        day2.append({"date": None, "idMember": 1, "idBranch": 1})  # no date → dropped
        self.runs += [("evo", "entries", None, 1, day1), ("evo", "entries", None, 2, day2)]
        fields = ("date", "idMember", "idProspect", "idEmployee", "idBranch", "device",
                  "entryAction")
        day1_keys = {tuple(r.get(f) for f in fields) for r in day1}
        all_keys = day1_keys | {tuple(r.get(f) for f in fields) for r in day2 if r.get("date")}
        self.expected["evo_entries"] = len(all_keys)
        self.changed_keys += len(all_keys)

    def records(self, day: int) -> int:
        return sum(len(recs) for *_, d, recs in self.runs if d == day)

    def land(self, root: str, day: int) -> int:
        """Write ``day``'s runs under ``root``; return the bytes written."""
        size = 0
        for source, entity, scope, d, recs in self.runs:
            if d == day:
                size += _write_run(root, source, entity, day, recs, self.parts, scope)
        return size
