"""Seeded inputs for the ``daily_elt`` workload.

``EltStream`` yields the change stream: nested line_item-shaped JSON
documents (the GAM entity shape of ``queries/entity_e2e.py``) with
cumulative ``stats`` counters. Day 0 is a full snapshot; every later day
restates a seeded sample of existing entities (advanced counters,
sometimes a new status) plus a few brand-new ones. (The query workloads
read the lake tables the repository's ``tools/gen_sf.py`` writes.)
"""

from __future__ import annotations

import json
import os

import numpy as np


# ------------------------------------------------------------ ELT stream

_STATUSES = ["ACTIVE", "PAUSED", "DRAFT", "COMPLETED"]
_COST_TYPES = ["CPM", "CPC", "CPD", "VCPM"]
_LOC_TYPES = ["CITY", "STATE", "COUNTRY", "DMA"]


class EltStream:
    """The seeded ``daily_elt`` change stream.

    Entity ``i`` is a nested document keyed by ``_id``; its
    ``stats.impressions``/``stats.clicks`` are cumulative counters that
    only grow. ``day(d)`` is a pure function of (seed, d): replaying
    days 0..d in order reproduces the stream byte for byte."""

    def __init__(self, seed: int, n_entities: int, changed_per_day: int,
                 new_per_day: int):
        self.seed = seed
        self.n_entities = n_entities
        self.changed_per_day = changed_per_day
        self.new_per_day = new_per_day
        self._state: dict[int, dict] = {}
        self._next_day = 0

    def _rng(self, day: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, day])

    def _new_entity(self, rng: np.random.Generator, _id: int) -> dict:
        n_loc = int(rng.integers(0, 4))
        return {
            "_id": _id,
            "name": f"line_item_{_id}",
            "status": _STATUSES[int(rng.integers(0, len(_STATUSES)))],
            "costType": _COST_TYPES[int(rng.integers(0, len(_COST_TYPES)))],
            "startDateTime": {"date": {
                "year": int(rng.integers(2019, 2025)),
                "month": int(rng.integers(1, 13)),
                "day": int(rng.integers(1, 29)),
            }},
            "totalBudget": round(float(rng.uniform(100.0, 100_000.0)), 2),
            "stats": {
                "impressions": int(rng.integers(0, 100_000)),
                "clicks": int(rng.integers(0, 1_000)),
            },
            "targeting": {"geoTargeting": {"targetedLocations": [
                {
                    "id": int(rng.integers(1, 5_000)),
                    "type": _LOC_TYPES[int(rng.integers(0, len(_LOC_TYPES)))],
                    "canonicalParentId": int(rng.integers(1, 500)),
                    "displayName": f"loc_{int(rng.integers(1, 5_000))}",
                }
                for _ in range(n_loc)
            ] or None}},
        }

    def day(self, d: int) -> list[dict]:
        """Documents staged on day ``d`` (days must be taken in order)."""
        if d != self._next_day:
            raise ValueError(f"days are generated in order: expected {self._next_day}, got {d}")
        self._next_day += 1
        rng = self._rng(d)
        if d == 0:
            docs = [self._new_entity(rng, i) for i in range(self.n_entities)]
        else:
            ids = sorted(self._state)
            picked = rng.choice(len(ids), size=self.changed_per_day, replace=False)
            docs = []
            for j in sorted(picked.tolist()):
                doc = json.loads(json.dumps(self._state[ids[j]]))
                doc["stats"]["impressions"] += int(rng.integers(1, 5_000))
                doc["stats"]["clicks"] += int(rng.integers(0, 50))
                if rng.random() < 0.2:
                    doc["status"] = _STATUSES[int(rng.integers(0, len(_STATUSES)))]
                docs.append(doc)
            base = max(self._state) + 1
            docs += [self._new_entity(rng, base + k) for k in range(self.new_per_day)]
        for doc in docs:
            self._state[doc["_id"]] = doc
        return docs


def write_jsonl(docs: list[dict], path: str) -> int:
    """Write one JSON document per line; returns the bytes written."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    data = "".join(json.dumps(d, sort_keys=True) + "\n" for d in docs).encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)
