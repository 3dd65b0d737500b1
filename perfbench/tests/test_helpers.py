"""Tests of the benchmark's pure helpers and its Python store model."""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

import pytest

import gen
import model
import stats


# --- the tail-percentile rule ---------------------------------------------


@pytest.mark.parametrize(
    "n, p",
    [(0, None), (19, None), (20, 50), (39, 50), (40, 75), (99, 75), (100, 90), (199, 90),
     (200, 95), (999, 95), (1000, 99), (10000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert stats.tail_percentile(n) == p


def test_tail_value_is_nearest_rank():
    vals = [float(i) for i in range(1, 101)]  # 1..100
    assert stats.tail(vals) == (90, 90.0)
    assert stats.tail(vals[:19]) == (None, None)
    assert stats.percentile([3.0, 1.0, 2.0], 50) == 2.0


def test_geomean_and_spread():
    assert stats.geomean([1.0, 4.0]) == pytest.approx(2.0)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])
    # quantiles(n=4) of 1..9 (exclusive method) are 2.5, 5, 7.5
    assert stats.quartile_spread([float(i) for i in range(1, 10)]) == pytest.approx(1.0)


# --- self time ------------------------------------------------------------


def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_union_of_children_clipped_to_parent():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 2.0, 5.0),  # overlaps span 1: counted once
        _span(3, 0, 9.0, 12.0),  # runs past the parent: clipped to 1.0
        _span(4, 1, 1.5, 2.0),  # grandchild: only reduces span 1
    ]
    st = stats.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[1] == pytest.approx(2.0 - 0.5)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(0.5)


def test_self_time_without_children_is_duration():
    assert stats.self_times([_span(7, None, 2.0, 2.25)]) == {7: 0.25}


# --- generator determinism -------------------------------------------------


def test_corpus_is_a_function_of_the_seed():
    assert gen.corpus(5, 30) == gen.corpus(5, 30)
    assert gen.corpus(5, 30) != gen.corpus(6, 30)


def test_corpus_ids_unique_across_nesting_levels():
    ids = []
    for d in gen.corpus(3, 50):
        ids.append(d["objectId"])
        ids.append(d["planCostShares"]["objectId"])
        for e in d["linkedPlanServices"]:
            ids += [e["objectId"], e["linkedService"]["objectId"], e["planserviceCostShares"]["objectId"]]
    assert len(ids) == len(set(ids))


def test_zipf_draws_repeat_per_seed_and_skew():
    import random

    keys = [f"k{i}" for i in range(100)]
    a = gen.ZipfKeys(random.Random(1), keys)
    b = gen.ZipfKeys(random.Random(1), keys)
    da, db = [a.draw() for _ in range(500)], [b.draw() for _ in range(500)]
    assert da == db
    top = max(set(da), key=da.count)
    assert da.count(top) > 500 / 100 * 5  # far above the uniform share


def test_zipf_exponent_is_ycsbs():
    assert gen.ZIPF_S == 0.99


# --- analytics inputs and query set ------------------------------------------


def test_analytics_has_one_headline_query_per_operators_module():
    import analytics
    import run
    from adv_big_data_indexing_spark.contract import registry

    specs = registry()
    assert tuple(analytics.QUERIES) == run.ANALYTICS_MODULES
    for module, name in analytics.QUERIES.items():
        assert specs[name].bench, name
        assert specs[name].fn.__module__.rsplit(".", 1)[-1] == module, name
        assert specs[name].oracle or name in analytics.STABILITY_CHECKED, name


def test_analytics_inputs_are_the_catalog_tables():
    import analytics

    names = {p.name for p in analytics.DATA_DIR.glob("*.parquet")}
    assert names == {f"{t}.parquet" for t in analytics.TABLES}


# --- bytes written per CDC batch --------------------------------------------


def test_bytes_written_counts_new_and_changed_files_only(tmp_path):
    import docstore

    (tmp_path / "a").mkdir()
    keep, grow, swap = tmp_path / "a" / "keep", tmp_path / "a" / "grow", tmp_path / "swap"
    keep.write_bytes(b"x" * 100)
    grow.write_bytes(b"x" * 10)
    swap.write_bytes(b"y" * 7)
    before = docstore.file_states(str(tmp_path))
    assert len(before) == 3

    with grow.open("ab") as f:
        f.write(b"x" * 5)
    replacement = tmp_path / "swap.new"
    replacement.write_bytes(b"z" * 7)  # same size, new inode
    replacement.replace(swap)
    (tmp_path / "a" / "new").write_bytes(b"n" * 3)
    after = docstore.file_states(str(tmp_path))

    assert docstore.bytes_written(before, after) == 15 + 7 + 3
    assert docstore.bytes_written(after, docstore.file_states(str(tmp_path))) == 0


# --- the store model against the engine ------------------------------------


def test_invalid_kinds_report_their_violation(spark):
    from adv_big_data_indexing_spark.plans.json_schema_compiler import validate
    import random

    base = gen.corpus(1, 1)[0]
    rows = [(json.dumps(base), None)]
    for mutate, violation in gen.INVALID_KINDS:
        bad = json.loads(json.dumps(base))
        mutate(bad)
        rows.append((json.dumps(bad), violation))
    df = spark.createDataFrame([(r,) for r, _ in rows], "raw string")
    got = validate(df, gen.plan_schema()).select("is_valid", "violations").collect()
    assert got[0]["is_valid"]
    for (_, violation), row in zip(rows[1:], got[1:]):
        assert not row["is_valid"] and violation in row["violations"]
    bad, violation = gen.make_invalid(random.Random(0), base)
    assert violation in dict((v, k) for k, v in gen.INVALID_KINDS)


def test_model_merge_patch_matches_engine(spark):
    from pyspark.sql import functions as F

    from adv_big_data_indexing_spark.operators.mutate import merge_patch
    from adv_big_data_indexing_spark.plans.json_schema_compiler import compile_struct

    struct = compile_struct(gen.plan_schema())
    docs = gen.corpus(2, 4)
    d0, d1, d2, d3 = docs
    keep = dict(d0["linkedPlanServices"][0])
    keep["_org"] = "patched.org"
    patches = [
        {  # scalars, field-wise costshare, element replaced and appended
            "objectId": d0["objectId"],
            "planType": "PATCHED",
            "planCostShares": {"objectId": "cs-new", "objectType": "membercostshare", "copay": 1.5},
            "linkedPlanServices": [
                keep,
                {"objectId": "ps-new", "objectType": "planservice", "_org": "x.org",
                 "linkedService": None, "planserviceCostShares": None},
            ],
        },
        {"objectId": d1["objectId"], "_org": "only-org.com"},  # absent keys keep the base
        {"objectId": d2["objectId"], "planCostShares": {"copay": 5.0}},  # guard: rejected
    ]

    def frame(items):
        return (
            spark.createDataFrame([(json.dumps(x),) for x in items], "raw string")
            .select(F.from_json("raw", struct).alias("d"))
            .select("d.*")
        )

    merged, rejected = merge_patch(frame(docs), frame(patches))
    got = {r["objectId"]: model.canonical(r.asDict(recursive=True)) for r in merged.collect()}
    rejected_ids = {r["objectId"] for r in rejected.collect()}

    by_id = {p["objectId"]: p for p in patches}
    for d in docs:
        p = by_id.get(d["objectId"])
        want = d if p is None else model.merge_patch(d, p)
        if want is None:
            assert d["objectId"] in rejected_ids
            want = d  # a rejected patch leaves the base untouched
        assert got[d["objectId"]] == model.canonical(want), d["objectId"]
    assert rejected_ids == {d2["objectId"]}
    assert d3["objectId"] in got


def test_model_search_routes():
    m = model.StoreModel()
    for d in gen.corpus(4, 40):
        m.put(d)
    name = gen.SERVICE_NAMES[0]
    assert m.has_child_service(name) == {
        oid for oid, d in m.docs.items()
        if any(e["linkedService"]["name"] == name for e in d["linkedPlanServices"])
    }
    lt = m.copay_range(True, 10.0)
    gt = m.copay_range(False, 10.0)
    assert lt and gt
    oid = next(iter(m.docs))
    m.delete(oid)
    assert oid not in m.copay_range(True, 1e9) | m.copay_range(False, -1e9)


# --- BENCHMARK.json matches what run.py prints -------------------------------


def test_benchmark_json_lists_the_printed_metrics():
    import run

    spec = json.loads((Path(run.ROOT) / "BENCHMARK.json").read_text())
    assert {m["name"]: (m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
