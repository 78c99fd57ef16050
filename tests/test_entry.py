"""Driver-contract sanity: entry() smoke, registry consistency."""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as ent


def test_entry_smoke(spark):
    df = ent.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"l_returnflag", "sum_qty", "count_order"} <= set(df.columns)


def test_registry_consistency(spark):
    qs = ent.queries()
    oracles = ent.oracle_sql()
    assert len(qs) >= 50
    assert set(oracles) <= set(qs)
    # every oracle-less query is an explicitly approximate/engine-hash op
    from zio_kinesis_example_spark.registry import all_specs
    for name, spec in all_specs().items():
        if spec.oracle is None:
            assert "approx" in spec.tags, (
                f"{name} has no oracle but is not tagged approximate")


def test_multimodal_stub_raises():
    from zio_kinesis_example_spark.operators.multimodal import decode_image_real
    import pytest
    with pytest.raises(NotImplementedError):
        decode_image_real(b"\x89PNG")


def test_no_complex_types_in_query_outputs(spark):
    """Driver-canonicalizer contract: every registered query emits only
    scalar columns (array/map/struct outputs crash the hash compare —
    the round-2 q_array_funcs/q_map_funcs failure class). Serialize
    complex values via array_join/to_json before emitting."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    from zio_kinesis_example_spark.registry import all_specs

    from .conftest import SF_SMALL

    bad = []
    for name, spec in sorted(all_specs().items()):
        df = spec.fn(spark, SF_SMALL)
        for f in df.schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType, StructType)):
                bad.append((name, f.name, f.dataType.simpleString()))
    assert not bad, bad


def test_serve_order_ignores_stale_artifact_names(monkeypatch):
    """Rows in old CORRECTNESS_r*.json for queries that were since renamed
    or retired must not occupy serve-order slots (VERDICT r3 item 6)."""
    from zio_kinesis_example_spark.registry import all_specs

    real_state = ent._verification_state()
    fake_state = dict(real_state)
    fake_state["q_renamed_away_long_ago"] = (2, "green")
    fake_state["q_retired_failed"] = (1, "failed")
    monkeypatch.setattr(ent, "_verification_state", lambda: fake_state)

    order = ent._serve_order()
    assert "q_renamed_away_long_ago" not in order
    assert "q_retired_failed" not in order
    assert set(order) == set(all_specs())
    assert len(order) == len(set(order))


def test_wave_additions_serve_after_older_backlog():
    """Later-registered waves (pipeline_ext1-5, then the r6 codec
    modules) sort after every OTHER unverified query: the driver's
    budget certifies the older backlog before spending slots on wave
    additions — and earlier waves before later ones. Two hardening
    rules baked in: (a) synthetic all-unverified state, never the real
    CORRECTNESS_r*.json (driver writes those after the builder's last
    commit — the round-4 lesson); (b) run in a FRESH subprocess,
    because the registry's serve order is its registration (import)
    order, and the pytest process perturbs it by importing operator
    modules directly (the round-6 lesson: an early
    `import multimodal_png` in a codec test moves its queries to the
    registry's front for the whole process)."""
    import json
    import subprocess
    import sys

    code = """
import json
import __spark_entry__ as ent
from zio_kinesis_example_spark.registry import all_specs
ent._verification_state = lambda: {}
specs = all_specs()
mods = [s.fn.__module__.rsplit(".", 1)[-1] for s in
        (specs[n] for n in ent._serve_order())]
print(json.dumps(mods))
"""
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        cwd=REPO, check=True,
    ).stdout.strip().splitlines()[-1]
    mods = json.loads(out)
    waves = ["pipeline_ext", "pipeline_ext2", "pipeline_ext3",
             "pipeline_ext4", "pipeline_ext5", "multimodal_png",
             "multimodal_gif", "multimodal_jpeg"]
    for w in waves:
        assert w in mods, f"wave {w} registered no queries"
    # every wave module's queries sit after ALL non-wave queries...
    first_wave_at = min(mods.index(w) for w in waves)
    assert all(m in waves for m in mods[first_wave_at:])
    # ...and wave K's block precedes wave K+1's
    positions = [max(i for i, m in enumerate(mods) if m == w)
                 for w in waves]
    starts = [min(i for i, m in enumerate(mods) if m == w)
              for w in waves]
    for k in range(len(waves) - 1):
        assert positions[k] < starts[k + 1], (waves[k], waves[k + 1])


def test_verification_state_reads_artifacts_once(monkeypatch):
    """_verification_state is lru_cached: queries() + oracle_sql() in the
    same process must scan the CORRECTNESS_r*.json glob at most once."""
    calls = {"n": 0}
    real_glob = ent.glob.glob

    def counting_glob(pattern):
        calls["n"] += 1
        return real_glob(pattern)

    monkeypatch.setattr(ent.glob, "glob", counting_glob)
    ent._verification_state.cache_clear()
    try:
        ent.queries()
        ent.oracle_sql()
        assert calls["n"] <= 1
    finally:
        ent._verification_state.cache_clear()


def test_serve_order_fronts_unverified(monkeypatch):
    """Queries with no green row sort before hash-green ones."""
    state = ent._verification_state()
    order = ent._serve_order()
    seen_green = False
    for n in order:
        status = state.get(n, (0, "unseen"))[1]
        if status == "green":
            seen_green = True
        else:
            assert not seen_green, (
                f"{n} ({status}) served after a hash-green query")
