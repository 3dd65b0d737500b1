"""A Python model of the document store, used to check the engine's answers.

The model holds the current plan documents by objectId and answers the same
questions the engine's search routes answer. Its merge-patch follows
``operators/mutate.merge_patch``: a null patch value keeps the base value,
``objectId`` is immutable, ``planCostShares`` merges field by field, and
``linkedPlanServices`` upserts whole elements by objectId.
"""

from __future__ import annotations

import copy

COSTSHARE_FIELDS = ("deductible", "_org", "copay", "objectId", "objectType")
PLAN_SCALARS = ("objectType", "_org", "planType", "creationDate")


def canonical(doc: dict) -> dict:
    """The reconstructed form: array children sorted by objectId."""
    out = copy.deepcopy(doc)
    out["linkedPlanServices"] = sorted(
        out.get("linkedPlanServices") or [], key=lambda e: e["objectId"]
    )
    return out


def _valid_costshare(cs: dict | None) -> bool:
    return cs is None or (cs.get("objectId") is not None and cs.get("objectType") is not None)


def patch_is_valid(patch: dict) -> bool:
    """The merge-patch type guard ("Wrong Object Type" otherwise)."""
    if not _valid_costshare(patch.get("planCostShares")):
        return False
    return all(
        e.get("objectId") is not None
        and e.get("objectType") is not None
        and _valid_costshare(e.get("planserviceCostShares"))
        for e in patch.get("linkedPlanServices") or []
    )


def merge_patch(base: dict, patch: dict) -> dict | None:
    """The merged document, or None when the guard rejects the patch."""
    if not patch_is_valid(patch):
        return None
    out = copy.deepcopy(base)
    for f in PLAN_SCALARS:
        if patch.get(f) is not None:
            out[f] = patch[f]
    pcs = patch.get("planCostShares")
    if pcs is not None:
        bcs = base.get("planCostShares") or {}
        out["planCostShares"] = {
            f: pcs.get(f) if pcs.get(f) is not None else bcs.get(f) for f in COSTSHARE_FIELDS
        }
    plps = patch.get("linkedPlanServices")
    if plps is not None:
        ids = {e["objectId"] for e in plps}
        kept = [e for e in base.get("linkedPlanServices") or [] if e["objectId"] not in ids]
        out["linkedPlanServices"] = kept + copy.deepcopy(plps)
    return out


class StoreModel:
    """Current documents by objectId, in reconstructed form."""

    def __init__(self) -> None:
        self.docs: dict[str, dict] = {}

    def put(self, doc: dict) -> None:
        self.docs[doc["objectId"]] = canonical(doc)

    def delete(self, oid: str) -> None:
        self.docs.pop(oid, None)

    # --- search routes -----------------------------------------------------

    def has_child_service(self, name: str) -> set[str]:
        return {
            oid
            for oid, d in self.docs.items()
            if any((e.get("linkedService") or {}).get("name") == name for e in d["linkedPlanServices"])
        }

    def copay_range(self, less_than: bool, value: float) -> set[str]:
        def hit(cs: dict | None) -> bool:
            if cs is None or cs.get("copay") is None:
                return False
            return cs["copay"] < value if less_than else cs["copay"] > value

        return {
            oid
            for oid, d in self.docs.items()
            if hit(d.get("planCostShares"))
            or any(hit(e.get("planserviceCostShares")) for e in d["linkedPlanServices"])
        }

    def plan_match(self, params: dict) -> set[str]:
        return {
            oid for oid, d in self.docs.items() if all(d.get(k) == v for k, v in params.items())
        }

    def planservices_of(self, plan_type: str) -> set[str]:
        return {
            f"planservice_{e['objectId']}"
            for d in self.docs.values()
            if d.get("planType") == plan_type
            for e in d["linkedPlanServices"]
        }
