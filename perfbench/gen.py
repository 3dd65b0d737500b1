"""Seeded input generators: the plan-document corpus and its CDC traffic.

Everything here is a pure function of the seed, so the same seed gives the
same inputs. The engine only ever sees what these functions return or write.
"""

from __future__ import annotations

import bisect
import copy
import datetime as dt
import itertools
import json
import random
from pathlib import Path

SCHEMA_PATH = Path(__file__).resolve().parent / "plan_schema.json"

COPAY_BOUNDARIES = (-1.0, 0.0, 10.0, 175.0, 178.0)
SERVICE_NAMES = ("Yearly physical", "well baby", "dental", "vision", "lab work", "x-ray")
PLAN_TYPES = ("inNetwork", "outOfNetwork", "hmo", "ppo")
ORGS = ("example.com", "health.org", "care.net")


def plan_schema() -> dict:
    return json.loads(SCHEMA_PATH.read_text())


# ---------------------------------------------------------------------------
# plan documents (FIXTURES.md §A shape)
# ---------------------------------------------------------------------------


def _costshare(rng: random.Random, oid: str) -> dict:
    copay = (
        rng.choice(COPAY_BOUNDARIES)
        if rng.random() < 0.3
        else float(rng.randrange(0, 40000)) / 100.0
    )
    return {
        "deductible": float(rng.randrange(0, 500000)) / 100.0,
        "_org": rng.choice(ORGS),
        "copay": copay,
        "objectId": oid,
        "objectType": "membercostshare",
    }


def make_plan(rng: random.Random, oid: str, version: int = 0) -> dict:
    """One valid plan document. ``oid`` makes every nested objectId unique
    (the store's key rule); ``version`` keeps child ids of a rewritten
    document distinct from the ids of its earlier versions."""
    n_services = rng.randint(1, 4)
    date = dt.date(2015, 1, 1) + dt.timedelta(days=rng.randrange(0, 3650))
    return {
        "planCostShares": _costshare(rng, f"cs-{oid}-v{version}"),
        "linkedPlanServices": [
            {
                "linkedService": {
                    "_org": rng.choice(ORGS),
                    "objectId": f"svc-{oid}-v{version}-{j}",
                    "objectType": "service",
                    "name": rng.choice(SERVICE_NAMES),
                },
                "planserviceCostShares": _costshare(rng, f"pscs-{oid}-v{version}-{j}"),
                "_org": rng.choice(ORGS),
                "objectId": f"ps-{oid}-v{version}-{j}",
                "objectType": "planservice",
            }
            for j in range(n_services)
        ],
        "_org": rng.choice(ORGS),
        "objectId": oid,
        "objectType": "plan",
        "planType": rng.choice(PLAN_TYPES),
        "creationDate": date.strftime("%d-%m-%Y"),
    }


def plan_key(oid: str) -> str:
    return f"plan_{oid}"


def corpus(seed: int, n: int) -> list[dict]:
    rng = random.Random(f"corpus-{seed}")
    return [make_plan(rng, f"p{i:06d}") for i in range(n)]


def _drop_root_id(d: dict) -> None:
    del d["objectId"]


def _bad_calendar(d: dict) -> None:
    d["creationDate"] = "31-02-2024"


def _bad_pattern(d: dict) -> None:
    d["creationDate"] = "2024-01-31"


def _extra_field(d: dict) -> None:
    d["extraField"] = 1


def _drop_costshare_id(d: dict) -> None:
    del d["planCostShares"]["objectId"]


#: invalid-document kinds → the violation the schema compiler must report.
#: A document whose root objectId is missing still carries its CDC key, so
#: its reject row is found by key.
INVALID_KINDS = (
    (_drop_root_id, "$.objectId:required"),
    (_bad_calendar, "$.creationDate:calendar_valid"),
    (_bad_pattern, "$.creationDate:pattern"),
    (_extra_field, "$:no_additional_properties"),
    (_drop_costshare_id, "$.planCostShares.objectId:required"),
)


def make_invalid(rng: random.Random, doc: dict) -> tuple[dict, str]:
    """A copy of ``doc`` broken in one seeded way, with the expected
    violation name."""
    bad = copy.deepcopy(doc)
    mutate, violation = rng.choice(INVALID_KINDS)
    mutate(bad)
    return bad, violation


#: Zipf exponent of key popularity: YCSB's default request distribution
#: constant (Cooper et al., "Benchmarking Cloud Serving Systems with YCSB",
#: SoCC 2010)
ZIPF_S = 0.99


class ZipfKeys:
    """Seeded Zipf-skewed draws over a fixed key list (rank order is a
    seeded shuffle, so the hot keys differ per seed)."""

    def __init__(self, rng: random.Random, keys: list[str], s: float = ZIPF_S):
        self._keys = list(keys)
        rng.shuffle(self._keys)
        self._cum = list(itertools.accumulate(1.0 / r**s for r in range(1, len(self._keys) + 1)))
        self._rng = rng

    def draw(self) -> str:
        x = self._rng.random() * self._cum[-1]
        return self._keys[min(bisect.bisect_left(self._cum, x), len(self._keys) - 1)]
