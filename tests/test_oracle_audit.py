"""Mirrored-oracle audit (round 10): independent pure-Python MODEL tests
for the registered queries whose DuckDB oracle is a structural
transliteration of the Spark plan.

Background (VERDICT r9, "What's wrong" #1): q_ts_autocorr's row-offset
lag() bug survived four hash-green rounds because the oracle used the
SAME row-offset lag() — the driver's hash check verifies ENGINE PARITY,
not semantics. The closure is a third, independent formulation: each
test here runs the REGISTERED query (registry.all_specs()[name].fn) on
the real sf0.001 tables and compares it to a pure-Python model written
from the documented SEMANTICS (docstring spec), using direct loops/sets
— never the windowed/folded algebra the Spark plan and the oracle
share. A shared defect in that algebra now has to fool three mutually
independent formulations, one of them trivially auditable Python.

Selection: the MIRRORED-RISK rows of AUDIT.md §3 (ordered folds,
time-keyed/window-direction logic, sequence anchors, gaps-and-islands
tricks, hand-written algorithm mirrors). Constants (alphas, windows,
caps) are imported from the operator modules — they are parameters of
the spec, not the algebra under test.

Float policy: Spark emits round(x, 6); models compute full-precision
floats (possibly in a different summation order) and assert
|model − spark| ≤ 2e-6 — wide enough for fold-order drift, far below
any semantics defect.
"""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict

import numpy as np
import pandas as pd
import pytest

from zio_kinesis_example_spark.registry import all_specs

from .conftest import SF_SMALL

HOUR_US = 3_600_000_000


def _run(spark, name: str) -> pd.DataFrame:
    return all_specs()[name].fn(spark, SF_SMALL).toPandas()


def _events() -> pd.DataFrame:
    e = pd.read_parquet(f"{SF_SMALL}/events.parquet")
    # loader truncates TIMESTAMP(NANOS) to µs — mirror that here
    e["ts"] = e["ts"].dt.floor("us")
    return e


def _us(ts_series: pd.Series) -> pd.Series:
    """Epoch microseconds, independent of the frame's datetime unit
    (sf0.001 loads as datetime64[us], generated tables as [ns])."""
    return (ts_series - pd.Timestamp(0)) // pd.Timedelta(microseconds=1)


def _cents(v: float) -> int:
    """Spark round(v*100) — HALF_UP on the double product."""
    x = v * 100.0
    return int(math.floor(x + 0.5)) if x >= 0 else -int(math.floor(-x + 0.5))


def _hour(ts) -> pd.Timestamp:
    return ts.floor("h")


def _hourly_cents_mean(e: pd.DataFrame) -> dict:
    """{(event_type, hour): exact-cents mean} — the documented hourly
    mean spec (sum of 2dp cents / (100·count))."""
    acc: dict = defaultdict(lambda: [0, 0])
    for t, ts, v in zip(e.event_type, e.ts, e.value):
        k = (t, _hour(ts))
        acc[k][0] += _cents(v)
        acc[k][1] += 1
    return {k: s / (100.0 * n) for k, (s, n) in acc.items()}


# ---------------------------------------------------------------- timeseries

def test_autocorr_matches_time_lag_model(spark):
    """q_ts_autocorr (the r9 fix, now LOCKED by a third formulation):
    r_L correlates each observed hour with the hour exactly L hours
    earlier; unobserved lagged hours contribute 0 to the numerator."""
    got = {r.event_type: (r.r1, r.r2, r.r24)
           for _, r in _run(spark, "q_ts_autocorr").iterrows()}
    m = _hourly_cents_mean(_events())
    series: dict = defaultdict(dict)
    for (t, h), v in m.items():
        series[t][h] = v
    want = {}
    for t, hs in series.items():
        mean = sum(hs.values()) / len(hs)
        dx = {h: v - mean for h, v in hs.items()}
        den = sum(d * d for d in dx.values())
        rs = []
        for lag in (1, 2, 24):
            num = sum(d * dx.get(h - pd.Timedelta(hours=lag), 0.0)
                      for h, d in dx.items())
            rs.append(num / den if den > 0 else 0.0)
        want[t] = tuple(rs)
    assert set(got) == set(want)
    for t in want:
        for g, w in zip(got[t], want[t]):
            assert abs(g - w) <= 2e-6, (t, got[t], want[t])


def test_ewma_matches_fold_model(spark):
    """q_ts_ewma: s0 = x0, s = 0.3·x + 0.7·s over hourly CENT SUMS in
    ascending hour order."""
    from zio_kinesis_example_spark.operators.timeseries import _EWMA_ALPHA

    got = {r.event_type: (r.n_hours, r.ewma)
           for _, r in _run(spark, "q_ts_ewma").iterrows()}
    acc: dict = defaultdict(dict)
    for t, ts, v in zip(*(lambda e: (e.event_type, e.ts, e.value))(_events())):
        h = _hour(ts)
        acc[t][h] = acc[t].get(h, 0) + _cents(v)
    want = {}
    for t, hs in acc.items():
        xs = [hs[h] / 100.0 for h in sorted(hs)]
        s = xs[0]
        for x in xs[1:]:
            s = _EWMA_ALPHA * x + (1 - _EWMA_ALPHA) * s
        want[t] = (len(xs), s)
    assert set(got) == set(want)
    for t in want:
        assert got[t][0] == want[t][0]
        assert abs(got[t][1] - want[t][1]) <= 2e-6, t


def test_holt_matches_two_state_model(spark):
    """q_ts_holt: l1 = x1, b1 = x2 − x1, then the textbook two-state
    recurrence (α=0.4, β=0.3) over hourly COUNTS in hour order."""
    got = {r.event_type: (r.n_hours, r.level, r.trend, r.forecast_next)
           for _, r in _run(spark, "q_ts_holt").iterrows()}
    cnt: dict = defaultdict(lambda: defaultdict(int))
    for t, ts in zip(*(lambda e: (e.event_type, e.ts))(_events())):
        cnt[t][_hour(ts)] += 1
    want = {}
    for t, hs in cnt.items():
        xs = [float(hs[h]) for h in sorted(hs)]
        if len(xs) < 2:
            continue
        level, b = xs[0], xs[1] - xs[0]
        for x in xs[1:]:
            l_new = 0.4 * x + 0.6 * (level + b)
            b = 0.3 * (l_new - level) + 0.7 * b
            level = l_new
        want[t] = (len(xs), level, b, level + b)
    assert set(got) == set(want)
    for t in want:
        assert got[t][0] == want[t][0]
        for g, w in zip(got[t][1:], want[t][1:]):
            assert abs(g - w) <= 2e-6, (t, got[t], want[t])


def test_changepoint_matches_cusum_model(spark):
    """q_ts_changepoint: the argmax hour of |k·cumsum − i·total| over
    the sorted hourly-count series, ties to the earliest hour."""
    got = {r.event_type: (r.cp_hour, r.dev_scaled, r.n_hours, r.n_events)
           for _, r in _run(spark, "q_ts_changepoint").iterrows()}
    cnt: dict = defaultdict(lambda: defaultdict(int))
    for t, ts in zip(*(lambda e: (e.event_type, e.ts))(_events())):
        cnt[t][_hour(ts)] += 1
    want = {}
    for t, hs in cnt.items():
        hours = sorted(hs)
        k, s = len(hours), sum(hs.values())
        cum, best = 0, None
        for i, h in enumerate(hours, start=1):
            cum += hs[h]
            dev = abs(k * cum - i * s)
            if best is None or dev > best[1]:
                best = (h, dev)
        want[t] = (best[0], best[1], k, s)
    assert {t: (pd.Timestamp(g[0]), int(g[1]), int(g[2]), int(g[3]))
            for t, g in got.items()} == want


def test_interpolate_matches_lerp_model(spark):
    """q_ts_interpolate: over the GLOBAL hourly spine of the two sparse
    types, observed hours pass through, interior gaps lerp between the
    nearest observed hours time-weighted, edges stay NULL."""
    res = _run(spark, "q_ts_interpolate")
    got = {(r.event_type, pd.Timestamp(r.bucket_hour)):
           (bool(r.observed),
            None if pd.isna(r.value_interp) else r.value_interp)
           for _, r in res.iterrows()}
    e = _events()
    e = e[e.event_type.isin(["purchase", "signup"])]
    m = _hourly_cents_mean(e)
    all_hours = sorted({h for (_, h) in m})
    spine = pd.date_range(all_hours[0], all_hours[-1], freq="h")
    want = {}
    for t in {"purchase", "signup"}:
        obs = sorted(h for (tt, h) in m if tt == t)
        for h in spine:
            if (t, h) in m:
                want[(t, h)] = (True, m[(t, h)])
                continue
            prev = max((o for o in obs if o < h), default=None)
            nxt = min((o for o in obs if o > h), default=None)
            if prev is None or nxt is None:
                want[(t, h)] = (False, None)
                continue
            p, n, th = (prev.value // 10**9 // 3600,
                        nxt.value // 10**9 // 3600,
                        h.value // 10**9 // 3600)
            v0, v1 = m[(t, prev)], m[(t, nxt)]
            want[(t, h)] = (False, v0 + (v1 - v0) * (th - p) / (n - p))
    assert set(got) == set(want)
    for k, (obs_w, v_w) in want.items():
        obs_g, v_g = got[k]
        assert obs_g == obs_w, k
        if v_w is None:
            assert v_g is None, k
        else:
            assert v_g is not None and abs(v_g - v_w) <= 2e-6, (k, v_g, v_w)


# -------------------------------------------------------------------- events

def test_dau_wau_matches_trailing_window_model(spark):
    """q_events_dau_wau: WAU(d) counts distinct users active anywhere
    in [d−6, d] — the window DIRECTION is the axis a mirrored fan-out
    formulation could get wrong on both sides."""
    got = {pd.Timestamp(r.d): (r.dau, r.wau, r.stickiness)
           for _, r in _run(spark, "q_events_dau_wau").iterrows()}
    e = _events()
    ud = {(u, ts.floor("D")) for u, ts in zip(e.user_id, e.ts)}
    days = sorted({d for _, d in ud})
    want = {}
    for d in days:
        dau = sum(1 for (_, dd) in ud if dd == d)
        wau = len({u for (u, dd) in ud
                   if d - pd.Timedelta(days=6) <= dd <= d})
        want[d] = (dau, wau, dau / wau)
    assert set(got) == set(want)
    for d in want:
        assert (int(got[d][0]), int(got[d][1])) == want[d][:2], d
        assert abs(got[d][2] - want[d][2]) <= 2e-6, d


def test_attribution_matches_interval_model(spark):
    """q_events_attribution: each purchase's value splits equally over
    the SAME user's clicks with 0 ≤ purchase−click ≤ 1h (closed window,
    backward-looking); each click sums its shares."""
    from zio_kinesis_example_spark.operators.pipeline_ext import \
        _ATTR_WINDOW_US

    got = {(r.click_id, r.user_id): (r.n_attributions, r.credit)
           for _, r in _run(spark, "q_events_attribution").iterrows()}
    e = _events()
    us = _us(e.ts)
    clicks = [(cid, u, t) for cid, u, t, k in
              zip(e.event_id, e.user_id, us, e.event_type) if k == "click"]
    purch = [(pid, u, t, v) for pid, u, t, v, k in
             zip(e.event_id, e.user_id, us, e.value, e.event_type)
             if k == "purchase"]
    touches = defaultdict(list)   # purchase -> clicks in window
    for pid, pu, pt, pv in purch:
        for cid, cu, ct in clicks:
            if cu == pu and 0 <= pt - ct <= _ATTR_WINDOW_US:
                touches[(pid, pv)].append((cid, cu))
    credit = defaultdict(list)
    for (pid, pv), cs in touches.items():
        for cid, cu in cs:
            credit[(cid, cu)].append((pid, pv / len(cs)))
    want = {k: (len(v), sum(s for _, s in sorted(v)))
            for k, v in credit.items()}
    assert set(got) == set(want)
    for k in want:
        assert int(got[k][0]) == want[k][0], k
        assert abs(got[k][1] - want[k][1]) <= 2e-6, k


def _pattern_model(rows):
    """Pure-Python CEP scan: purchases whose last preceding view is
    ≤ 30 min older, with no error between that view and the purchase.
    rows: (user, ts_us, event_id, type); order = (ts, event_id)."""
    byu = defaultdict(list)
    for u, t, i, k in rows:
        byu[u].append((t, i, k))
    out = {}
    for u, seq in byu.items():
        seq.sort()
        n = 0
        last_view = last_err = None          # (ts, event_id) positions
        for t, i, k in seq:
            if k == "purchase" and last_view is not None \
                    and t - last_view[0] <= 30 * 60 * 1_000_000 \
                    and (last_err is None or last_err < last_view):
                n += 1
            if k == "view":
                last_view = (t, i)
            elif k == "error":
                last_err = (t, i)
        if n:
            out[u] = n
    return out


def test_pattern_matches_sequence_scan_model(spark):
    """q_events_pattern vs a direct per-user ordered scan — the anchor
    logic (strictly-preceding frame, (ts, event_id) tie order,
    'no error in between') re-derived with explicit positions."""
    got = {r.user_id: int(r.n_matches)
           for _, r in _run(spark, "q_events_pattern").iterrows()}
    e = _events()
    rows = list(zip(e.user_id, _us(e.ts), e.event_id, e.event_type))
    assert got == _pattern_model(rows)


def test_streaks_matches_run_model(spark):
    """q_events_streaks: longest run of CONSECUTIVE active days and the
    number of maximal runs, from the distinct (user, day) set."""
    got = {r.user_id: (int(r.longest_streak), int(r.n_streaks))
           for _, r in _run(spark, "q_events_streaks").iterrows()}
    e = _events()
    byu = defaultdict(set)
    for u, ts in zip(e.user_id, e.ts):
        byu[u].add(ts.floor("D"))
    want = {}
    for u, ds in byu.items():
        days = sorted(ds)
        runs, cur = [], 1
        for a, b in zip(days, days[1:]):
            if (b - a).days == 1:
                cur += 1
            else:
                runs.append(cur)
                cur = 1
        runs.append(cur)
        want[u] = (max(runs), len(runs))
    assert got == want


# ------------------------------------------------------------------ curation

def test_drift_chi2_matches_contingency_model(spark):
    """q_curate_drift_chi2: textbook χ² of each source's lang histogram
    vs the corpus expectation, zero cells included; df-fixed critical
    value for the drift verdict."""
    from zio_kinesis_example_spark.operators.pipeline_ext import _CHI2_CRIT

    got = {r.source: (int(r.n_docs), int(r.n_langs), r.chi2, bool(r.drifted))
           for _, r in _run(spark, "q_curate_drift_chi2").iterrows()}
    d = pd.read_parquet(f"{SF_SMALL}/documents.parquet")
    obs = d.groupby(["source", "lang"]).size()
    langs = sorted(d.lang.unique())
    lang_tot = d.groupby("lang").size()
    src_tot = d.groupby("source").size()
    grand = len(d)
    want = {}
    for s in src_tot.index:
        chi2 = 0.0
        for lg in langs:
            exp = src_tot[s] * lang_tot[lg] / grand
            o = obs.get((s, lg), 0)
            chi2 += (o - exp) ** 2 / exp
        want[s] = (int(src_tot[s]), len(langs), chi2, chi2 > _CHI2_CRIT)
    assert set(got) == set(want)
    for s in want:
        assert got[s][0] == want[s][0] and got[s][1] == want[s][1], s
        assert abs(got[s][2] - want[s][2]) <= 2e-6, s
        assert got[s][3] == want[s][3], s


def _chunk_model(terms, size=64, stride=48):
    """Direct sliding-window chunker: start at 0, advance by stride,
    stop once a window reaches the end; short final window kept; a doc
    shorter than one window yields exactly one chunk."""
    n = len(terms)
    out, start, no = [], 0, 0
    while True:
        end = min(start + size, n)
        out.append((no, end - start, terms[start], terms[end - 1]))
        if end >= n:
            return out
        start += stride
        no += 1


def test_chunk_matches_window_model(spark):
    """q_curate_chunk vs the direct while-loop chunker — the ceil/stride
    closed form is exactly the kind of arithmetic a mirrored oracle
    can't catch an off-by-one in."""
    got = {(r.doc_id, r.chunk_no):
           (int(r.chunk_tokens), r.first_term, r.last_term)
           for _, r in _run(spark, "q_curate_chunk").iterrows()}
    d = pd.read_parquet(f"{SF_SMALL}/documents.parquet")
    want = {}
    for doc_id, text in zip(d.doc_id, d.text):
        for no, ntok, first, last in _chunk_model(text.split(" ")):
            want[(doc_id, no)] = (ntok, first, last)
    assert got == want


# --------------------------------------------------------------- dedup / sim

def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_ngram_jaccard_matches_set_model(spark):
    """q_dedup_ngram_jaccard vs direct Python SETS: shingle each doc
    (distinct 3-word shingles; whole text if < 3 terms), candidates =
    pairs sharing a shingle with global df ≤ cap, n_common = |A∩B| over
    the FULL sets, keep 101·n_common ≥ |A|+|B| (Jaccard ≥ 1%). The
    Spark/oracle pair recover |A∩B| by count algebra + hot-key array
    intersects — this model never does."""
    from zio_kinesis_example_spark.operators.llm_dedup import _DF_CAP

    got = {(r.doc_a, r.doc_b): (int(r.n_common), r.jaccard)
           for _, r in _run(spark, "q_dedup_ngram_jaccard").iterrows()}
    d = pd.read_parquet(f"{SF_SMALL}/documents.parquet")
    sets, posting = {}, defaultdict(set)
    for doc_id, text in zip(d.doc_id, d.text):
        terms = text.split(" ")
        if len(terms) >= 3:
            sh = {" ".join(terms[i:i + 3]) for i in range(len(terms) - 2)}
        else:
            sh = {" ".join(terms)}
        hs = {_h60(g) for g in sh}
        sets[doc_id] = hs
        for h in hs:
            posting[h].add(doc_id)
    cands = set()
    for h, docs in posting.items():
        if len(docs) <= _DF_CAP:
            ds = sorted(docs)
            cands.update((a, b) for i, a in enumerate(ds) for b in ds[i + 1:])
    want = {}
    for a, b in cands:
        common = len(sets[a] & sets[b])
        na, nb = len(sets[a]), len(sets[b])
        if common * 101 >= na + nb:
            want[(a, b)] = (common, common / (na + nb - common))
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0], k
        assert abs(got[k][1] - want[k][1]) <= 2e-6, k


def _trunc_div(a: int, b: int) -> int:
    """Spark DIV / DuckDB // — truncation toward zero (Python // floors)."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def test_kmeans_matches_numpy_lloyd_model(spark):
    """q_embed_kmeans vs an independent numpy Lloyd run: quantized
    int64 vectors, Knuth-hash-ordered seeds, squared-L2 assignment with
    first-min tie, per-dim truncating-mean update, empty cluster keeps
    its previous centroid."""
    from zio_kinesis_example_spark.operators.llm_similarity import (
        _KM_ITERS, _KM_K, _KM_SCALE,
    )

    got = {int(r.cid): (int(r.n_members), int(r.mem_sum), int(r.cent_sum))
           for _, r in _run(spark, "q_embed_kmeans").iterrows()}
    emb = pd.read_parquet(f"{SF_SMALL}/embeddings.parquet")
    ids = emb.vec_id.to_numpy()
    X = np.floor(np.stack(emb.embedding.to_numpy()).astype(np.float64)
                 * _KM_SCALE).astype(np.int64)

    def draw(vid: int) -> int:
        return ((vid % 65536) * 2654435761
                + ((vid // 65536) % 65536) * 2041643008) % 4294967296

    order = sorted(range(len(ids)), key=lambda i: (draw(int(ids[i])), ids[i]))
    cents = [X[i].copy() for i in order[:_KM_K]]
    assign = None
    for _ in range(_KM_ITERS):
        D = np.stack([((X - c) ** 2).sum(axis=1) for c in cents])  # (k, n)
        assign = D.argmin(axis=0)                 # first min index on ties
        for cid in range(_KM_K):
            members = X[assign == cid]
            if len(members):
                s = members.sum(axis=0)
                cents[cid] = np.array(
                    [_trunc_div(int(v), len(members)) for v in s],
                    dtype=np.int64)
    want = {}
    for cid in range(_KM_K):
        members = X[assign == cid]
        want[cid] = (len(members), int(members.sum()),
                     int(cents[cid].sum()))
    assert got == want


# ------------------------------------------------ randomized-input re-checks
# The fixture-data models above audit the real registered plans; these
# hypothesis variants regenerate a tiny events TABLE per example and run
# the SAME registered query on it — boundary cases (gap exactly at the
# window edge, ties at one microsecond, single-hour series) that the
# fixture never hits.

try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    _HYP = True
except ImportError:                              # pragma: no cover
    _HYP = False

_EV_TYPES = ["view", "click", "error", "purchase"]


def _write_events(spark, tmpdir, rows):
    """rows: (event_id, user_id, ts_us, type, value) → a one-table
    sf_dir the registered queries can load."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, u, t, k, v) for i, u, t, k, v in rows],
        "event_id long, user_id long, ts_us long, event_type string, "
        "value double",
    ).select(
        "event_id", "user_id",
        F.timestamp_micros("ts_us").cast("timestamp_ntz").alias("ts"),
        "event_type", "value",
    )
    df.write.mode("overwrite").parquet(f"{tmpdir}/events.parquet")
    return tmpdir


if _HYP:
    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(rows=st.lists(
        st.tuples(st.integers(0, 2),                       # user
                  st.integers(0, 3 * HOUR_US),             # ts µs
                  st.sampled_from(_EV_TYPES)),
        min_size=1, max_size=40, unique_by=lambda r: (r[0], r[1], r[2])))
    def test_pattern_model_randomized(spark, tmp_path_factory, rows):
        """q_events_pattern on randomized event tables: microsecond
        ties between view/error, purchases exactly 30 min after the
        view, users with no views at all."""
        tmpdir = str(tmp_path_factory.mktemp("audit-pattern"))
        recs = [(i, u, t, k, 0.5) for i, (u, t, k) in enumerate(rows)]
        _write_events(spark, tmpdir, recs)
        res = all_specs()["q_events_pattern"].fn(spark, tmpdir).toPandas()
        got = {r.user_id: int(r.n_matches) for _, r in res.iterrows()}
        assert got == _pattern_model(
            [(u, t, i, k) for i, u, t, k, _ in recs])

    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(rows=st.lists(
        st.tuples(st.integers(0, 3),                       # user
                  st.integers(0, 9)),                      # day index
        min_size=1, max_size=40))
    def test_dau_wau_model_randomized(spark, tmp_path_factory, rows):
        """q_events_dau_wau on randomized activity: gaps longer than
        the window, single-day users, activity exactly 6 days apart
        (still inside the trailing window)."""
        tmpdir = str(tmp_path_factory.mktemp("audit-dauwau"))
        day_us = 86_400_000_000
        recs = [(i, u, d * day_us + 1, "view", 0.5)
                for i, (u, d) in enumerate(rows)]
        _write_events(spark, tmpdir, recs)
        res = all_specs()["q_events_dau_wau"].fn(spark, tmpdir).toPandas()
        got = {pd.Timestamp(r.d): (int(r.dau), int(r.wau))
               for _, r in res.iterrows()}
        ud = {(u, d) for u, d in rows}
        epoch = pd.Timestamp("1970-01-01")
        want = {}
        for d in sorted({d for _, d in ud}):
            dau = sum(1 for (_, dd) in ud if dd == d)
            wau = len({u for (u, dd) in ud if d - 6 <= dd <= d})
            want[epoch + pd.Timedelta(days=d)] = (dau, wau)
        assert got == want


# ----------------------------------------------------- batch 2: stats/graph

def test_gini_matches_pairwise_model(spark):
    """q_agg_gini states G via the sorted rank-weighted identity on both
    sides; the model uses the OTHER classic identity — mean absolute
    difference: G = ΣᵢΣⱼ|cᵢ−cⱼ| / (2·n·Σc) over exact cents — which a
    rank/tie defect would not reproduce."""
    got = {r.o_orderpriority: (int(r.n_orders), r.gini)
           for _, r in _run(spark, "q_agg_gini").iterrows()}
    o = pd.read_parquet(f"{SF_SMALL}/orders.parquet")
    want = {}
    for pri, grp in o.groupby("o_orderpriority"):
        c = np.rint(grp.o_totalprice.to_numpy() * 100).astype(np.int64)
        n = len(c)
        mad_sum = np.abs(c[:, None] - c[None, :]).sum()
        want[pri] = (n, float(mad_sum) / (2.0 * n * c.sum()))
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0], k
        assert abs(got[k][1] - want[k][1]) <= 2e-6, k


def test_wilson_matches_formula_model(spark):
    """q_supplier_reliability: late counts re-derived with direct pandas
    date arithmetic and the Wilson lower bound re-stated from the
    textbook closed form."""
    got = {int(r.l_suppkey): (int(r.n_items), int(r.n_late),
                              r.late_rate, r.wilson_lower)
           for _, r in _run(spark, "q_supplier_reliability").iterrows()}
    li = pd.read_parquet(f"{SF_SMALL}/lineitem.parquet")
    o = pd.read_parquet(f"{SF_SMALL}/orders.parquet")
    j = li.merge(o[["o_orderkey", "o_orderdate"]],
                 left_on="l_orderkey", right_on="o_orderkey")
    j["late"] = j.l_shipdate > j.o_orderdate + pd.Timedelta(days=30)
    want = {}
    z = 1.96
    for sk, grp in j.groupby("l_suppkey"):
        n, late = len(grp), int(grp.late.sum())
        p = late / n
        lower = ((p + z * z / (2 * n)
                  - z * math.sqrt(p * (1 - p) / n
                                  + z * z / (4.0 * n * n)))
                 / (1 + z * z / n))
        want[int(sk)] = (n, late, p, lower)
    assert set(got) == set(want)
    for k in want:
        assert got[k][:2] == want[k][:2], k
        assert abs(got[k][2] - want[k][2]) <= 2e-6, k
        assert abs(got[k][3] - want[k][3]) <= 2e-6, k


def test_unigram_logprob_matches_model(spark):
    """q_text_unigram_logprob: per-token corpus surprisal averaged per
    document, re-derived with plain dict counts and per-token loop."""
    got = {int(r.doc_id): (int(r.n_terms), r.bits_per_token)
           for _, r in _run(spark, "q_text_unigram_logprob").iterrows()}
    d = pd.read_parquet(f"{SF_SMALL}/documents.parquet")
    tf: dict = defaultdict(int)
    docs = {}
    for doc_id, text in zip(d.doc_id, d.text):
        toks = text.split(" ")
        docs[int(doc_id)] = toks
        for t in toks:
            tf[t] += 1
    total = sum(tf.values())
    want = {}
    for doc_id, toks in docs.items():
        bits = sum(-math.log2(tf[t] / total) for t in toks)
        want[doc_id] = (len(toks), bits / len(toks))
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0], k
        assert abs(got[k][1] - want[k][1]) <= 2e-6, k


def test_tfidf_matches_model(spark):
    """q_text_tfidf: tf·ln(N/df) top-3 per doc with the documented
    (score desc, tf desc, df asc, term asc) tie order, re-derived with
    dict counts and Python sorting."""
    got = {(int(r.doc_id), int(r.rnk)): (r.term, int(r.tf), int(r.df))
           for _, r in _run(spark, "q_text_tfidf").iterrows()}
    d = pd.read_parquet(f"{SF_SMALL}/documents.parquet")
    tf: dict = defaultdict(int)
    for doc_id, text in zip(d.doc_id, d.text):
        for t in text.split(" "):
            tf[(int(doc_id), t)] += 1
    df: dict = defaultdict(int)
    for (_, t) in tf:
        df[t] += 1
    n_docs = len(d)
    per_doc: dict = defaultdict(list)
    for (doc_id, t), f in tf.items():
        score = f * math.log(n_docs / df[t])
        per_doc[doc_id].append((-score, -f, df[t], t))
    want = {}
    for doc_id, rows in per_doc.items():
        for rnk, (_, nf, dfv, t) in enumerate(sorted(rows)[:3], start=1):
            want[(doc_id, rnk)] = (t, -nf, dfv)
    assert got == want


def test_covariance_matches_numpy_model(spark):
    """q_embed_covariance: the exact integer numerator n·Σxy − Σx·Σy
    and the scaled double, re-derived from one numpy Gram product over
    the quantized matrix."""
    got = {(int(r["di"]), int(r["dj"])):
           (int(r["n"]), int(r["cov_num"]), r["cov"])
           for _, r in _run(spark, "q_embed_covariance").iterrows()}
    emb = pd.read_parquet(f"{SF_SMALL}/embeddings.parquet")
    X = np.floor(np.stack(emb.embedding.to_numpy()).astype(np.float64)
                 * 1_000_000.0).astype(np.int64)
    n, dim = X.shape
    G = X.T @ X                    # int64-safe: |Σxy| ≤ n·1e12
    sx = X.sum(axis=0)
    want = {}
    for i in range(dim):
        for jj in range(i, dim):
            num = int(n) * int(G[i, jj]) - int(sx[i]) * int(sx[jj])
            cov = num / (float(n) * n * 1e6 * 1e6)
            want[(i + 1, jj + 1)] = (n, num, cov)
    assert set(got) == set(want)
    for k in want:
        assert got[k][:2] == want[k][:2], k
        assert abs(got[k][2] - want[k][2]) <= 2e-6, k


def test_winsorize_matches_clip_model(spark):
    """q_curate_winsorize: Tukey fences from numpy's linear-interpolated
    percentiles (the percentile_cont spec), outliers counted and the
    clipped sum re-derived by direct clipping."""
    got = {r.event_type: (int(r.n_events), int(r.n_outliers),
                          r.winsorized_sum)
           for _, r in _run(spark, "q_curate_winsorize").iterrows()}
    e = _events()
    want = {}
    for t, grp in e.groupby("event_type"):
        v = grp.value.to_numpy()
        p25, p75 = np.percentile(v, [25, 75])  # linear interpolation
        lo, hi = p25 - 1.5 * (p75 - p25), p75 + 1.5 * (p75 - p25)
        inside = (v >= lo) & (v <= hi)
        wsum = (sum(_cents(x) for x in v[inside]) / 100.0
                + (v < lo).sum() * lo + (v > hi).sum() * hi)
        want[t] = (len(v), int((~inside).sum()), wsum)
    assert set(got) == set(want)
    for k in want:
        assert got[k][:2] == want[k][:2], k
        assert abs(got[k][2] - want[k][2]) <= 2e-6, k


def test_funnel_matches_scan_model(spark):
    """q_funnel: the strictly-ordered view → click → purchase stage
    counts re-derived with per-user min-timestamp loops."""
    row = _run(spark, "q_funnel").iloc[0]
    e = _events()
    us = _us(e.ts)
    by_kind: dict = {k: defaultdict(list) for k in
                     ("view", "click", "purchase")}
    for u, t, k in zip(e.user_id, us, e.event_type):
        if k in by_kind:
            by_kind[k][u].append(t)
    t1 = {u: min(ts) for u, ts in by_kind["view"].items()}
    t2 = {}
    for u, anchor in t1.items():
        later = [t for t in by_kind["click"].get(u, []) if t > anchor]
        if later:
            t2[u] = min(later)
    t3 = {}
    for u, anchor in t2.items():
        later = [t for t in by_kind["purchase"].get(u, []) if t > anchor]
        if later:
            t3[u] = min(later)
    assert (int(row.n_view), int(row.n_click_after),
            int(row.n_purchase_after)) == (len(t1), len(t2), len(t3))


def test_triangles_matches_adjacency_model(spark):
    """q_graph_triangles: the co-purchase graph's edge/wedge/triangle
    census re-derived with Python adjacency sets (ordered-triple
    enumeration), not a join pyramid."""
    row = _run(spark, "q_graph_triangles").iloc[0]
    li = pd.read_parquet(f"{SF_SMALL}/lineitem.parquet")
    items = li[["l_orderkey", "l_partkey"]].drop_duplicates()
    pair_cnt: dict = defaultdict(int)
    for _, grp in items.groupby("l_orderkey"):
        parts = sorted(grp.l_partkey)
        for i, a in enumerate(parts):
            for b in parts[i + 1:]:
                pair_cnt[(a, b)] += 1
    edges = {p for p, c in pair_cnt.items() if c >= 2}
    adj: dict = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    n_nodes = len(adj)
    n_edges = len(edges)
    n_wedges = sum(len(v) * (len(v) - 1) // 2 for v in adj.values())
    n_tri = sum(1 for a, b in edges for c in (adj[a] & adj[b]) if c > b)
    assert (int(row.n_nodes), int(row.n_edges), int(row.n_wedges),
            int(row.n_triangles)) == (n_nodes, n_edges, n_wedges, n_tri)
    if n_wedges:
        assert abs(row.transitivity - 3.0 * n_tri / n_wedges) <= 2e-6


def test_pagerank_matches_float_model(spark):
    """q_graph_pagerank's scaled-integer power iteration vs a plain
    FLOAT power iteration (damping 0.85, 5 rounds, rank mass 1.0/node):
    the integer truncation drifts ≤ ~(indeg+1)/0.15 scaled units/node,
    orders of magnitude below the 1e-4·value tolerance — while a wrong
    damping factor, edge direction, or degree normalization lands far
    outside it."""
    from zio_kinesis_example_spark.operators.analytics import (
        _PR_ITERS, _PR_SCALE,
    )

    got = {int(r.node): int(r.pr)
           for _, r in _run(spark, "q_graph_pagerank").iterrows()}
    li = pd.read_parquet(f"{SF_SMALL}/lineitem.parquet")
    pairs = {(int(p) * 2, int(s) * 2 + 1)
             for p, s in zip(li.l_partkey, li.l_suppkey)}
    edges = pairs | {(b, a) for a, b in pairs}
    out: dict = defaultdict(list)
    for a, b in edges:
        out[a].append(b)
    pr = {v: 1.0 for v in out}
    for _ in range(_PR_ITERS):
        nxt: dict = defaultdict(float)
        for u, nbrs in out.items():
            share = pr[u] / len(nbrs)
            for v in nbrs:
                nxt[v] += share
        pr = {v: 0.15 + 0.85 * s for v, s in nxt.items()}
    assert set(got) == set(pr)
    for v, w in pr.items():
        assert abs(got[v] / _PR_SCALE - w) <= 1e-4 * w, v


def test_asof_nearest_matches_scan_model(spark):
    """q_ts_asof_nearest: per purchase, the click minimizing |Δt| with
    distance ties to the EARLIER click — re-derived by brute-force
    min-over-all-clicks, not the prev/next window scan."""
    got = {int(r.event_id): (int(r.user_id), int(r.t_us),
                             int(r.nearest_click_us), int(r.delta_us))
           for _, r in _run(spark, "q_ts_asof_nearest").iterrows()}
    e = _events()
    us = _us(e.ts)
    clicks = defaultdict(list)
    for u, t, k in zip(e.user_id, us, e.event_type):
        if k == "click":
            clicks[u].append(int(t))
    want = {}
    for pid, u, t, k in zip(e.event_id, e.user_id, us, e.event_type):
        if k != "purchase" or u not in clicks:
            continue
        t = int(t)
        dmin = min(abs(ct - t) for ct in clicks[u])
        nearest = min(ct for ct in clicks[u] if abs(ct - t) == dmin)
        want[int(pid)] = (int(u), t, nearest, nearest - t)
    assert got == want


# --------------------------------------- batch 3: M-D family-note closures
# These rows were closed in AUDIT.md by "same algebra as a locked
# sibling" arguments; direct models are stronger and cost little.

def test_decontaminate_matches_set_model(spark):
    """q_curate_decontaminate: distinct shared 5-grams with the src19
    benchmark slice, via raw Python sets."""
    got = {int(r.doc_id): int(r.n_shared_grams)
           for _, r in _run(spark, "q_curate_decontaminate").iterrows()}
    d = pd.read_parquet(f"{SF_SMALL}/documents.parquet")
    grams = {}
    for doc_id, text in zip(d.doc_id, d.text):
        terms = text.split(" ")
        grams[int(doc_id)] = (
            {" ".join(terms[i:i + 5]) for i in range(len(terms) - 4)}
            if len(terms) >= 5 else set())
    bench = set()
    for doc_id, src in zip(d.doc_id, d.source):
        if src == "src19":
            bench |= grams[int(doc_id)]
    want = {}
    for doc_id, src in zip(d.doc_id, d.source):
        if src == "src19":
            continue
        k = len(grams[int(doc_id)] & bench)
        if k:
            want[int(doc_id)] = k
    assert got == want


def test_containment_matches_set_model(spark):
    """q_text_containment: |A∩B|/|A| over raw shingle sets, keep if
    either direction ≥ 1/2 (exact 2·n ≥ size), contentless docs out."""
    got = {(r.doc_a, r.doc_b): (int(r.n_common), int(r.na), int(r.nb))
           for _, r in _run(spark, "q_text_containment").iterrows()}
    d = pd.read_parquet(f"{SF_SMALL}/documents.parquet")
    sets, posting = {}, defaultdict(set)
    for doc_id, text in zip(d.doc_id, d.text):
        terms = text.split(" ")
        sh = ({" ".join(terms[i:i + 3]) for i in range(len(terms) - 2)}
              if len(terms) >= 3 else {" ".join(terms)})
        if sh == {""}:
            continue                      # contentless exclusion
        sets[doc_id] = sh
        for g in sh:
            posting[g].add(doc_id)
    cands = set()
    for docs in posting.values():
        ds = sorted(docs)
        cands.update((a, b) for i, a in enumerate(ds) for b in ds[i + 1:])
    want = {}
    for a, b in cands:
        n = len(sets[a] & sets[b])
        na, nb = len(sets[a]), len(sets[b])
        if 2 * n >= na or 2 * n >= nb:
            want[(a, b)] = (n, na, nb)
    assert got == want


def test_source_overlap_matches_set_model(spark):
    """q_text_source_overlap: vocabulary Jaccard per source pair via
    raw Python sets (the Spark/oracle pair recover it by count
    algebra)."""
    got = {(r.source_a, r.source_b): (int(r.n_shared), r.jaccard)
           for _, r in _run(spark, "q_text_source_overlap").iterrows()}
    d = pd.read_parquet(f"{SF_SMALL}/documents.parquet")
    vocab = defaultdict(set)
    for src, text in zip(d.source, d.text):
        vocab[src] |= set(text.split(" "))
    srcs = sorted(vocab)
    want = {}
    for i, a in enumerate(srcs):
        for b in srcs[i + 1:]:
            n = len(vocab[a] & vocab[b])
            if n:
                want[(a, b)] = (n, n / len(vocab[a] | vocab[b]))
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0], k
        assert abs(got[k][1] - want[k][1]) <= 2e-6, k


def test_gapfill_matches_locf_model(spark):
    """q_ts_gapfill: zero-filled counts + last-observation-carried-
    forward sums over the generated spine, re-derived with dict scans.
    The hourly sum quantizes each value to DECIMAL(18,4) half-up — the
    model reproduces that exactly with Decimal."""
    from decimal import ROUND_HALF_UP, Decimal

    res = _run(spark, "q_ts_gapfill")
    got = {(r.event_type, pd.Timestamp(r.bucket_hour)):
           (int(r.n_events),
            None if pd.isna(r.filled_sum) else r.filled_sum)
           for _, r in res.iterrows()}
    e = _events()
    q4 = Decimal("0.0001")
    agg: dict = defaultdict(lambda: [0, Decimal(0)])
    for t, ts, v in zip(e.event_type, e.ts, e.value):
        k = (t, _hour(ts))
        agg[k][0] += 1
        agg[k][1] += Decimal(repr(v)).quantize(q4, rounding=ROUND_HALF_UP)
    hours = sorted({h for (_, h) in agg})
    spine = pd.date_range(hours[0], hours[-1], freq="h")
    want = {}
    for t in {tt for (tt, _) in agg}:
        last = None
        for h in spine:
            if (t, h) in agg:
                last = float(agg[(t, h)][1])
                want[(t, h)] = (agg[(t, h)][0], last)
            else:
                want[(t, h)] = (0, last)
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0], k
        if want[k][1] is None:
            assert got[k][1] is None, k
        else:
            assert got[k][1] is not None and \
                abs(got[k][1] - want[k][1]) <= 2e-6, k


def test_session_stats_matches_gap_model(spark):
    """q_events_session_stats: per-user rollup of 1-hour-gap sessions,
    re-derived with a direct per-user scan."""
    got = {r.user_id: (int(r.n_sessions), int(r.n_events),
                       int(r.total_duration_us), r.avg_session_events)
           for _, r in _run(spark, "q_events_session_stats").iterrows()}
    e = _events()
    byu = defaultdict(list)
    for u, t in zip(e.user_id, _us(e.ts)):
        byu[u].append(int(t))
    want = {}
    for u, ts in byu.items():
        ts.sort()
        sessions, cur = [], [ts[0]]
        for a, b in zip(ts, ts[1:]):
            if b - a > 3_600_000_000:
                sessions.append(cur)
                cur = []
            cur.append(b)
        sessions.append(cur)
        n_ev = sum(len(s) for s in sessions)
        dur = sum(s[-1] - s[0] for s in sessions)
        want[u] = (len(sessions), n_ev, dur, n_ev / len(sessions))
    assert set(got) == set(want)
    for u in want:
        assert got[u][:3] == want[u][:3], u
        assert abs(got[u][3] - want[u][3]) <= 2e-6, u


def test_time_to_convert_matches_model(spark):
    """q_events_time_to_convert: funnel-stage durations and their
    rank-based percentiles re-derived from the per-user scan model."""
    got = {r.step_pair: (int(r.n_users), int(r.min_us), int(r.p50_us),
                         int(r.p90_us), int(r.max_us), r.avg_us)
           for _, r in _run(spark, "q_events_time_to_convert").iterrows()}
    e = _events()
    us = _us(e.ts)
    by_kind: dict = {k: defaultdict(list) for k in
                     ("view", "click", "purchase")}
    for u, t, k in zip(e.user_id, us, e.event_type):
        if k in by_kind:
            by_kind[k][u].append(int(t))
    t1 = {u: min(ts) for u, ts in by_kind["view"].items()}
    t2, t3 = {}, {}
    for u, a in t1.items():
        later = [t for t in by_kind["click"].get(u, []) if t > a]
        if later:
            t2[u] = min(later)
    for u, a in t2.items():
        later = [t for t in by_kind["purchase"].get(u, []) if t > a]
        if later:
            t3[u] = min(later)
    durs = {
        "view->click": sorted(t2[u] - t1[u] for u in t2),
        "click->purchase": sorted(t3[u] - t2[u] for u in t3),
        "view->purchase": sorted(t3[u] - t1[u] for u in t3),
    }
    want = {}
    for pair, ds in durs.items():
        if not ds:
            continue
        n = len(ds)
        want[pair] = (n, ds[0], ds[math.ceil(n / 2) - 1],
                      ds[math.ceil(0.9 * n) - 1], ds[-1], sum(ds) / n)
    assert set(got) == set(want)
    for k in want:
        assert got[k][:5] == want[k][:5], (k, got[k], want[k])
        assert abs(got[k][5] - want[k][5]) <= 2e-6, k


def test_token_budget_matches_fill_model(spark):
    """q_curate_token_budget: proportional floor allocation + fill in
    md5(doc_id) order while the inclusive cumsum fits, re-derived with
    direct dict arithmetic."""
    got = {int(r.doc_id): (r.lang, r.source, int(r.n_tokens),
                           int(r.cum_tokens))
           for _, r in _run(spark, "q_curate_token_budget").iterrows()}
    d = pd.read_parquet(f"{SF_SMALL}/documents.parquet")
    rows = [(int(i), lg, s, len(t.split(" ")))
            for i, lg, s, t in zip(d.doc_id, d.lang, d.source, d.text)]
    total = sum(n for *_, n in rows)
    dom_tokens: dict = defaultdict(int)
    for _, lg, s, n in rows:
        dom_tokens[(lg, s)] += n
    budget = {k: (10000 * v) // total for k, v in dom_tokens.items()}
    want = {}
    by_dom: dict = defaultdict(list)
    for i, lg, s, n in rows:
        by_dom[(lg, s)].append((hashlib.md5(str(i).encode()).hexdigest(),
                                i, n))
    for dom, docs in by_dom.items():
        cum = 0
        for _, i, n in sorted(docs):
            cum += n
            if cum <= budget[dom]:
                want[i] = (dom[0], dom[1], n, cum)
    assert got == want


def test_pack_matches_cumsum_model(spark):
    """q_text_pack: 2048-token bin assignment by exclusive cumsum in
    doc_id order per language."""
    got = {int(r.doc_id): (r.lang, int(r.n_tokens), int(r.seq_bin))
           for _, r in _run(spark, "q_text_pack").iterrows()}
    d = pd.read_parquet(f"{SF_SMALL}/documents.parquet")
    by_lang = defaultdict(list)
    for i, lg, t in zip(d.doc_id, d.lang, d.text):
        by_lang[lg].append((int(i), len(t.split(" "))))
    want = {}
    for lg, docs in by_lang.items():
        before = 0
        for i, n in sorted(docs):
            want[i] = (lg, n, before // 2048)
            before += n
    assert got == want


def _quant_embeddings():
    emb = pd.read_parquet(f"{SF_SMALL}/embeddings.parquet")
    labels = emb.label.to_numpy()
    X = np.floor(np.stack(emb.embedding.to_numpy()).astype(np.float64)
                 * 1_000_000.0).astype(np.int64)
    return labels, X


def _int_centroids(labels, X):
    cents = {}
    for lb in np.unique(labels):
        m = X[labels == lb]
        s = m.sum(axis=0)
        cents[int(lb)] = np.array(
            [_trunc_div(int(v), len(m)) for v in s], dtype=np.int64)
    return cents


def test_cohesion_matches_numpy_model(spark):
    """q_embed_cohesion: member-to-own-centroid cosine (truncating
    integer-mean centroid), per-label average and worst member —
    re-derived with numpy."""
    got = {int(r.label): (int(r.n_vectors), r.avg_cohesion,
                          r.min_cohesion)
           for _, r in _run(spark, "q_embed_cohesion").iterrows()}
    labels, X = _quant_embeddings()
    cents = _int_centroids(labels, X)
    want = {}
    for lb, c in cents.items():
        m = X[labels == lb].astype(np.float64)
        nc = float((c.astype(np.float64) ** 2).sum())
        dots = m @ c.astype(np.float64)
        nv = (m ** 2).sum(axis=1)
        cos = np.where((nv > 0) & (nc > 0),
                       dots / np.sqrt(nv * nc), 0.0)
        avg = np.floor(1_000_000.0 * cos).sum() / (1e6 * len(m))
        want[lb] = (len(m), avg, float(cos.min()))
    assert set(got) == set(want)
    for lb in want:
        assert got[lb][0] == want[lb][0], lb
        assert abs(got[lb][1] - want[lb][1]) <= 3e-6, lb
        assert abs(got[lb][2] - want[lb][2]) <= 3e-6, lb


def test_silhouette_matches_numpy_model(spark):
    """q_embed_silhouette: own-centroid cosine minus best foreign
    cosine, floor-scaled to int margins, per-label rollup — numpy
    re-derivation (±1 scaled unit on the floor boundary)."""
    got = {int(r.label): (int(r.n_vectors), int(r.n_negative),
                          int(r.min_margin_scaled), r.avg_margin)
           for _, r in _run(spark, "q_embed_silhouette").iterrows()}
    labels, X = _quant_embeddings()
    cents = _int_centroids(labels, X)
    lbs = sorted(cents)
    C = np.stack([cents[lb] for lb in lbs]).astype(np.float64)
    ncs = (C ** 2).sum(axis=1)
    want = {}
    for lb in lbs:
        m = X[labels == lb].astype(np.float64)
        nv = (m ** 2).sum(axis=1)
        cos = np.zeros((len(m), len(lbs)))
        for j in range(len(lbs)):
            ok = (nv > 0) & (ncs[j] > 0)
            cos[:, j] = np.where(
                ok, (m @ C[j]) / (np.sqrt(nv) * np.sqrt(ncs[j])), 0.0)
        own = cos[:, lbs.index(lb)]
        other = np.max(
            cos[:, [j for j in range(len(lbs)) if lbs[j] != lb]], axis=1)
        msc = np.floor(1_000_000.0 * (own - other)).astype(np.int64)
        want[lb] = (len(m), int((msc < 0).sum()), int(msc.min()),
                    msc.sum() / (1e6 * len(m)))
    assert set(got) == set(want)
    for lb in want:
        assert got[lb][0] == want[lb][0], lb
        assert got[lb][1] == want[lb][1], lb
        assert abs(got[lb][2] - want[lb][2]) <= 1, lb
        assert abs(got[lb][3] - want[lb][3]) <= 3e-6, lb


# ------------------------------- batch 4: remaining semantic M-D rows
# Formulation-is-spec rows whose thresholds/tie-breaks still deserve a
# third formulation: each model below re-states the documented rule
# with direct Python, not the shared SQL algebra.

_STOPS = ("the", "a", "and", "of")


def test_quality_gates_matches_rule_model(spark):
    """q_curate_quality_gates: the five Gopher rules re-derived per doc
    (length bounds, mean word length, unique fraction, top-word
    dominance, distinct-stopword hits) and the composed keep."""
    got = {int(r.doc_id): (int(r.n_words), bool(r.r_nwords),
                           bool(r.r_mean_wlen), bool(r.r_unique),
                           bool(r.r_top_word), bool(r.r_stopwords),
                           bool(r.keep))
           for _, r in _run(spark, "q_curate_quality_gates").iterrows()}
    d = pd.read_parquet(f"{SF_SMALL}/documents.parquet")
    want = {}
    for doc_id, text in zip(d.doc_id, d.text):
        w = text.split(" ")
        n = len(w)
        mean_wlen = sum(len(t) for t in w) / n
        uniq = len(set(w)) / n
        top = max(__import__("collections").Counter(w).values())
        stop_hits = len(set(w) & set(_STOPS))
        r1 = 30 <= n <= 5000
        r2 = 2.0 <= mean_wlen <= 10.0
        r3 = uniq > 0.3
        r4 = top / n <= 0.2
        r5 = stop_hits >= 2
        want[int(doc_id)] = (n, r1, r2, r3, r4, r5,
                             r1 and r2 and r3 and r4 and r5)
    assert got == want


def test_repetition_matches_count_model(spark):
    """q_curate_repetition: max-term and type-token ratios from direct
    Counter arithmetic."""
    from collections import Counter

    got = {int(r.doc_id): (int(r.n_terms), int(r.n_distinct),
                           r.max_term_ratio, r.type_token_ratio,
                           bool(r.is_repetitive))
           for _, r in _run(spark, "q_curate_repetition").iterrows()}
    d = pd.read_parquet(f"{SF_SMALL}/documents.parquet")
    want = {}
    for doc_id, text in zip(d.doc_id, d.text):
        c = Counter(text.split(" "))
        n = sum(c.values())
        want[int(doc_id)] = (n, len(c), max(c.values()) / n,
                             len(c) / n, max(c.values()) / n > 0.2)
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0] and got[k][1] == want[k][1], k
        assert abs(got[k][2] - want[k][2]) <= 2e-6, k
        assert abs(got[k][3] - want[k][3]) <= 2e-6, k
        assert got[k][4] == want[k][4], k


def test_boilerplate_matches_prefix_model(spark):
    """q_curate_boilerplate: leading-10-term families of size ≥ 3 via a
    direct dict."""
    got = {int(r.doc_id): int(r.header_family_size)
           for _, r in _run(spark, "q_curate_boilerplate").iterrows()}
    d = pd.read_parquet(f"{SF_SMALL}/documents.parquet")
    fam = defaultdict(list)
    for doc_id, text in zip(d.doc_id, d.text):
        w = text.split(" ")
        if len(w) >= 10:
            fam[" ".join(w[:10])].append(int(doc_id))
    want = {i: len(m) for m in fam.values() if len(m) >= 3 for i in m}
    assert got == want


def test_spans_matches_window_model(spark):
    """q_dedup_spans: 8-term window duplication across documents via
    direct dict counting (multiplicity on the doc side, distinct-doc on
    the dup side); zero-span docs emitted with zeros."""
    got = {int(r.doc_id): (int(r.n_spans), int(r.n_dup_spans),
                           r.dup_share)
           for _, r in _run(spark, "q_dedup_spans").iterrows()}
    d = pd.read_parquet(f"{SF_SMALL}/documents.parquet")
    spans = {}
    owners = defaultdict(set)
    for doc_id, text in zip(d.doc_id, d.text):
        w = text.split(" ")
        sp = [" ".join(w[i:i + 8]) for i in range(len(w) - 7)] \
            if len(w) >= 8 else []
        spans[int(doc_id)] = sp
        for s in sp:
            owners[s].add(int(doc_id))
    want = {}
    for doc_id, sp in spans.items():
        dup = sum(1 for s in sp if len(owners[s]) >= 2)
        want[doc_id] = (len(sp), dup, dup / len(sp) if sp else 0.0)
    assert set(got) == set(want)
    for k in want:
        assert got[k][:2] == want[k][:2], k
        assert abs(got[k][2] - want[k][2]) <= 2e-6, k


def test_vocab_matches_fingerprint_model(spark):
    """q_dedup_vocab: identical distinct-term sets group together —
    groups rebuilt from raw frozensets, md5 fingerprints re-derived."""
    got = {r.fingerprint: (int(r.n_docs), int(r.canonical_doc_id),
                           r.member_ids)
           for _, r in _run(spark, "q_dedup_vocab").iterrows()}
    d = pd.read_parquet(f"{SF_SMALL}/documents.parquet")
    groups = defaultdict(list)
    for doc_id, text in zip(d.doc_id, d.text):
        groups[frozenset(text.split(" "))].append(int(doc_id))
    want = {}
    for terms, members in groups.items():
        if len(members) < 2:
            continue
        fp = hashlib.md5(" ".join(sorted(terms)).encode()).hexdigest()
        want[fp] = (len(members), min(members),
                    ",".join(str(i) for i in sorted(members)))
    assert got == want


_LANG_MARKERS = {
    "de": ["der", "und", "nicht", "das", "table", "scan"],
    "en": ["the", "and", "a", "of", "join", "merge"],
    "es": ["el", "la", "los", "que", "filter", "row"],
    "fr": ["le", "la", "les", "des", "group", "sort"],
    "zh": ["de5", "shi4", "le5", "zai4", "hash", "batch"],
}


def test_langid_matches_argmax_model(spark):
    """q_text_langid: marker-hit argmax with the documented de>en>es>
    fr>zh tie cascade, re-derived with direct set intersections."""
    got = {int(r.doc_id): (r.pred_lang, bool(r.is_correct))
           for _, r in _run(spark, "q_text_langid").iterrows()}
    d = pd.read_parquet(f"{SF_SMALL}/documents.parquet")
    want = {}
    for doc_id, lang, text in zip(d.doc_id, d.lang, d.text):
        terms = set(text.split(" "))
        s = {lg: len(terms & set(m)) for lg, m in _LANG_MARKERS.items()}
        # cascade: lg wins iff its score >= every LATER language's
        for lg, later in (("de", ("en", "es", "fr", "zh")),
                          ("en", ("es", "fr", "zh")),
                          ("es", ("fr", "zh")), ("fr", ("zh",))):
            if all(s[lg] >= s[o] for o in later):
                pred = lg
                break
        else:
            pred = "zh"
        want[int(doc_id)] = (pred, pred == lang)
    assert got == want


def test_text_quality_matches_formula_model(spark):
    """q_text_quality: saturation × (1 − stopword-token ratio) from
    direct token arithmetic."""
    got = {int(r.doc_id): (int(r.n_terms), int(r.n_chars),
                           r.avg_term_len, r.stopword_ratio,
                           r.quality_score)
           for _, r in _run(spark, "q_text_quality").iterrows()}
    d = pd.read_parquet(f"{SF_SMALL}/documents.parquet")
    want = {}
    for doc_id, text, n_chars in zip(d.doc_id, d.text, d.n_chars):
        w = text.split(" ")
        n = len(w)
        chars = sum(len(t) for t in w)
        stop = sum(1 for t in w if t in _STOPS)
        q = min(1.0, n / 64) * (1.0 - stop / n)
        want[int(doc_id)] = (n, int(n_chars), chars / n, stop / n, q)
    assert set(got) == set(want)
    for k in want:
        assert got[k][:2] == want[k][:2], k
        for g, w in zip(got[k][2:], want[k][2:]):
            assert abs(g - w) <= 2e-6, k


def test_fingerprint_matches_rolling_hash_model(spark):
    """q_text_fingerprint: the polynomial rolling hash re-derived with
    a direct loop, plus the order-sensitivity property the docstring
    claims (a permuted two-term doc hashes differently)."""
    got = {int(r.doc_id): int(r.fingerprint)
           for _, r in _run(spark, "q_text_fingerprint").iterrows()}
    d = pd.read_parquet(f"{SF_SMALL}/documents.parquet")

    def fp(text: str) -> int:
        h = 0
        for t in text.split(" "):
            c = ord(t[0]) * 131 + len(t) if t else len(t)
            h = (h * 131 + c) % 1_000_000_007
        return h

    want = {int(i): fp(t) for i, t in zip(d.doc_id, d.text)}
    assert got == want
    assert fp("alpha beta") != fp("beta alpha")     # order-sensitive


def test_mode_matches_tie_model(spark):
    """q_agg_mode: highest count, ties to the LAST event type
    alphabetically — the documented struct-max rule re-derived."""
    from collections import Counter

    got = {int(r.user_id): (r.mode_event_type, int(r.mode_count))
           for _, r in _run(spark, "q_agg_mode").iterrows()}
    e = _events()
    per_user = defaultdict(Counter)
    for u, t in zip(e.user_id, e.event_type):
        per_user[int(u)][t] += 1
    want = {u: max(((n, t) for t, n in c.items()))[::-1]
            for u, c in per_user.items()}
    assert got == {u: (t, n) for u, (t, n) in want.items()}


def test_basket_affinity_matches_lift_model(spark):
    """q_basket_affinity: pair support ≥ 3 and lift re-derived from
    direct basket dicts."""
    got = {(int(r.part_a), int(r.part_b)): (int(r.together), r.lift)
           for _, r in _run(spark, "q_basket_affinity").iterrows()}
    li = pd.read_parquet(f"{SF_SMALL}/lineitem.parquet")
    items = li[["l_orderkey", "l_partkey"]].drop_duplicates()
    n_orders = items.l_orderkey.nunique()
    supp = items.groupby("l_partkey").size()
    pair_cnt = defaultdict(int)
    for _, grp in items.groupby("l_orderkey"):
        parts = sorted(grp.l_partkey)
        for i, a in enumerate(parts):
            for b in parts[i + 1:]:
                pair_cnt[(int(a), int(b))] += 1
    want = {}
    for (a, b), c in pair_cnt.items():
        if c >= 3:
            want[(a, b)] = (c, c * n_orders / (supp[a] * supp[b]))
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0], k
        assert abs(got[k][1] - want[k][1]) <= 2e-6, k


def test_anomaly_zscore_matches_moment_model(spark):
    """q_events_anomaly_zscore: z of each hour's count against its
    type's hourly distribution, re-derived with direct mean/variance
    (flat series → z = 0, not an anomaly)."""
    got = {(r.event_type, pd.Timestamp(r.h)): (int(r.n), r.z,
                                               bool(r.is_anomaly))
           for _, r in _run(spark, "q_events_anomaly_zscore").iterrows()}
    e = _events()
    cnt: dict = defaultdict(lambda: defaultdict(int))
    for t, ts in zip(e.event_type, e.ts):
        cnt[t][_hour(ts)] += 1
    want = {}
    for t, hs in cnt.items():
        k = len(hs)
        if k <= 1:
            continue
        vals = list(hs.values())
        mean = sum(vals) / k
        var = (sum(v * v for v in vals) - sum(vals) ** 2 / k) / (k - 1)
        for h, n in hs.items():
            z = (n - mean) / math.sqrt(var) if var > 0 else 0.0
            want[(t, h)] = (n, z, abs(z) > 3)
    assert set(got) == set(want)
    for kk in want:
        assert got[kk][0] == want[kk][0], kk
        assert abs(got[kk][1] - want[kk][1]) <= 2e-6, kk
        assert got[kk][2] == want[kk][2], kk


def test_seasonal_matches_profile_model(spark):
    """q_ts_seasonal: per-(type, hour-of-day) cents-mean profile and
    per-event residual re-derived with dict arithmetic."""
    got = {int(r.event_id): (r.event_type, int(r.hod), r.seasonal,
                             r.residual)
           for _, r in _run(spark, "q_ts_seasonal").iterrows()}
    e = _events()
    prof: dict = defaultdict(lambda: [0, 0])
    for t, ts, v in zip(e.event_type, e.ts, e.value):
        k = (t, ts.hour)
        prof[k][0] += _cents(v)
        prof[k][1] += 1
    want = {}
    for eid, t, ts, v in zip(e.event_id, e.event_type, e.ts, e.value):
        s, n = prof[(t, ts.hour)]
        seasonal = s / (100.0 * n)
        want[int(eid)] = (t, ts.hour, seasonal, v - seasonal)
    assert set(got) == set(want)
    for k in want:
        assert got[k][:2] == want[k][:2], k
        assert abs(got[k][2] - want[k][2]) <= 2e-6, k
        assert abs(got[k][3] - want[k][3]) <= 2e-6, k


def test_backlog_matches_ledger_model(spark):
    """q_ts_backlog: ±1 per-lineitem order/ship deltas cumulated into
    the daily open backlog, re-derived with a dict ledger."""
    got = {pd.Timestamp(r.day): (int(r.n_ordered), int(r.n_shipped),
                                 int(r.open_backlog))
           for _, r in _run(spark, "q_ts_backlog").iterrows()}
    li = pd.read_parquet(f"{SF_SMALL}/lineitem.parquet")
    o = pd.read_parquet(f"{SF_SMALL}/orders.parquet")
    j = li.merge(o[["o_orderkey", "o_orderdate"]],
                 left_on="l_orderkey", right_on="o_orderkey")
    ordered = defaultdict(int)
    shipped = defaultdict(int)
    for d_ in j.o_orderdate.dt.floor("D"):
        ordered[d_] += 1
    for d_ in j.l_shipdate.dt.floor("D"):
        shipped[d_] += 1
    days = sorted(set(ordered) | set(shipped))
    want, bal = {}, 0
    for d_ in days:
        bal += ordered[d_] - shipped[d_]
        want[d_] = (ordered[d_], shipped[d_], bal)
    assert got == want


def test_countmin_matches_sketch_model(spark):
    """q_agg_countmin: the 3-row/2048-cell Count-Min rebuilt with
    direct Python dicts — exact cells, exact min, and the est ≥ true
    guarantee asserted independently."""
    got = {int(r.user_id): (int(r.cnt), int(r.cm_est), int(r.overcount))
           for _, r in _run(spark, "q_agg_countmin").iterrows()}
    e = _events()
    cnt = defaultdict(int)
    for u in e.user_id:
        cnt[int(u)] += 1
    rows = [(1203071381, 946579823), (1528960981, 360922847),
            (812176523, 1720754035)]

    def h0(u: int) -> int:
        return int(hashlib.md5(str(u).encode()).hexdigest()[:15],
                   16) % 2147483647

    cells = [defaultdict(int) for _ in rows]
    pos = {}
    for u, c in cnt.items():
        hu = h0(u)
        pos[u] = [((hu * a + b) % 2147483647) % 2048 for a, b in rows]
        for j, p in enumerate(pos[u]):
            cells[j][p] += c
    want = {}
    for u, c in cnt.items():
        est = min(cells[j][p] for j, p in enumerate(pos[u]))
        want[u] = (c, est, est - c)
        assert est >= c                     # the CM guarantee itself
    assert got == want


def test_retention_cohorts_matches_model(spark):
    """q_retention_cohorts: first-activity-day cohorts × day offsets,
    distinct users, via direct dicts."""
    got = {(pd.Timestamp(r.cohort_day), int(r.day_offset)):
           int(r.n_active_users)
           for _, r in _run(spark, "q_retention_cohorts").iterrows()}
    e = _events()
    first = {}
    for u, ts in zip(e.user_id, e.ts):
        d_ = ts.floor("D")
        if u not in first or d_ < first[u]:
            first[u] = d_
    pairs = {(u, ts.floor("D")) for u, ts in zip(e.user_id, e.ts)}
    agg = defaultdict(set)
    for u, d_ in pairs:
        agg[(first[u], (d_ - first[u]).days)].add(u)
    assert got == {k: len(v) for k, v in agg.items()}


def test_cohort_ltv_matches_decimal_model(spark):
    """q_cohort_ltv: first-order-month cohorts, calendar month offsets,
    exact-decimal cumulative revenue emitted as strings — re-derived
    with Decimal arithmetic and explicit month math."""
    from decimal import ROUND_HALF_UP, Decimal

    got = {(pd.Timestamp(r.cohort), int(r.month_no)): r.cum_revenue
           for _, r in _run(spark, "q_cohort_ltv").iterrows()}
    o = pd.read_parquet(f"{SF_SMALL}/orders.parquet")
    q2 = Decimal("0.01")
    first_m = {}
    for c, d_ in zip(o.o_custkey, o.o_orderdate):
        m = pd.Timestamp(d_.year, d_.month, 1)
        if c not in first_m or m < first_m[c]:
            first_m[c] = m
    monthly = defaultdict(lambda: Decimal(0))
    for c, d_, p in zip(o.o_custkey, o.o_orderdate, o.o_totalprice):
        coh = first_m[c]
        mno = (d_.year - coh.year) * 12 + (d_.month - coh.month)
        monthly[(coh, mno)] += Decimal(repr(p)).quantize(
            q2, rounding=ROUND_HALF_UP)
    want = {}
    for coh in {c for c, _ in monthly}:
        cum = Decimal(0)
        for mno in sorted(m for c, m in monthly if c == coh):
            cum += monthly[(coh, mno)]
            want[(coh, mno)] = str(cum.quantize(q2))
    assert got == want


# ---------------------- batch 5: portable hash families + window pairs
# The hash constants are imported (parameters of the declared family);
# the FAMILY ITSELF is rebuilt in plain Python dicts/loops — a third
# implementation of each portable-hash contract.

def _doc_shingles() -> dict:
    d = pd.read_parquet(f"{SF_SMALL}/documents.parquet")
    out = {}
    for doc_id, text in zip(d.doc_id, d.text):
        terms = text.split(" ")
        out[int(doc_id)] = (
            {" ".join(terms[i:i + 3]) for i in range(len(terms) - 2)}
            if len(terms) >= 3 else {" ".join(terms)})
    return out


def test_minhash_matches_python_family(spark):
    """q_dedup_minhash: the 16-permutation / 8-band signature rebuilt
    with Python min() over the affine family."""
    from zio_kinesis_example_spark.operators.llm_dedup import (
        _BANDS, _MH_A, _MH_B, _P31,
    )

    got = {(int(r.doc_id), int(r.band_id)): int(r.band_hash)
           for _, r in _run(spark, "q_dedup_minhash").iterrows()}
    want = {}
    for doc_id, sh in _doc_shingles().items():
        hs = [_h60(g) % _P31 for g in sh]
        sig = [min((a * h + b) % _P31 for h in hs)
               for a, b in zip(_MH_A, _MH_B)]
        for band in range(_BANDS):
            want[(doc_id, band)] = sig[2 * band] * _P31 + sig[2 * band + 1]
    assert got == want


def test_simhash_matches_python_majority(spark):
    """q_dedup_simhash: 60 strict-majority bit votes over distinct-term
    hashes, rebuilt with Python bit loops."""
    got = {int(r.doc_id): int(r.simhash)
           for _, r in _run(spark, "q_dedup_simhash").iterrows()}
    d = pd.read_parquet(f"{SF_SMALL}/documents.parquet")
    want = {}
    for doc_id, text in zip(d.doc_id, d.text):
        hs = [_h60(t) for t in set(text.split(" "))]
        sig = 0
        for b in range(60):
            if 2 * sum((h >> b) & 1 for h in hs) > len(hs):
                sig |= 1 << b
        want[int(doc_id)] = sig
    assert got == want


def test_bloom_semi_matches_python_filter(spark):
    """q_join_bloom_semi: the 3-hash/32768-bit bloom rebuilt as a
    Python set of positions; candidate/exact/false-positive counts and
    the no-false-negatives guarantee re-derived row-by-row."""
    from zio_kinesis_example_spark.operators.llm_dedup import _P31
    from zio_kinesis_example_spark.operators.pipeline_ext import (
        _BLOOM_AB, _BLOOM_M,
    )

    row = _run(spark, "q_join_bloom_semi").iloc[0]
    part = pd.read_parquet(f"{SF_SMALL}/part.parquet")
    li = pd.read_parquet(f"{SF_SMALL}/lineitem.parquet")
    keys = {int(k) for k in part.p_partkey if k % 10 == 7}

    def positions(k: int):
        h = _h60(str(k)) % _P31
        return [((h * a + b) % _P31) % _BLOOM_M for a, b in _BLOOM_AB]

    bits = set()
    for k in keys:
        bits.update(positions(k))
    n_cand = n_exact = n_fp = 0
    no_fn = True
    for pk in li.l_partkey:
        pk = int(pk)
        passed = all(p in bits for p in positions(pk))
        exact = pk in keys
        n_cand += passed
        n_exact += exact
        n_fp += passed and not exact
        if exact and not passed:
            no_fn = False
    assert (int(row.n_keys), int(row.bits_set), int(row.n_candidates),
            int(row.n_exact), int(row.n_false_pos),
            bool(row.no_false_negatives)) == (
        len(keys), len(bits), n_cand, n_exact, n_fp, no_fn)
    assert no_fn                          # the bloom guarantee itself


def test_shuffle_epoch_matches_python_model(spark):
    """q_shuffle_epoch: md5('ep1:'+id) shard + within-shard rank."""
    got = {int(r.doc_id): (int(r.shard), int(r.pos), int(r.shuffle_key))
           for _, r in _run(spark, "q_shuffle_epoch").iterrows()}
    d = pd.read_parquet(f"{SF_SMALL}/documents.parquet")
    rows = [(int(i), _h60(f"ep1:{int(i)}")) for i in d.doc_id]
    by_shard = defaultdict(list)
    for i, h in rows:
        by_shard[h % 8].append((h, i))
    want = {}
    for shard, docs in by_shard.items():
        for pos, (h, i) in enumerate(sorted(docs), start=1):
            want[i] = (shard, pos, h)
    assert got == want


def test_sample_stratified_matches_python_model(spark):
    """q_sample_stratified: per-language md5(doc_id) rank ≤ 20."""
    got = {(r.lang, int(r.doc_id)): int(r.rn)
           for _, r in _run(spark, "q_sample_stratified").iterrows()}
    d = pd.read_parquet(f"{SF_SMALL}/documents.parquet")
    by_lang = defaultdict(list)
    for i, lg in zip(d.doc_id, d.lang):
        by_lang[lg].append(
            (hashlib.md5(str(int(i)).encode()).hexdigest(), int(i)))
    want = {}
    for lg, docs in by_lang.items():
        for rn, (_, i) in enumerate(sorted(docs), start=1):
            if rn <= 20:
                want[(lg, i)] = rn
    assert got == want


def _knuth(i: int) -> int:
    return ((i % 65536) * 2654435761
            + ((i // 65536) % 65536) * 2041643008) % 4294967296


def test_sample_mixture_matches_python_model(spark):
    """q_sample_mixture: Knuth-draw thresholds (90% src0-9, 25%
    src10-19) re-derived per document."""
    got = {int(r.doc_id) for _, r in
           _run(spark, "q_sample_mixture").iterrows()}
    d = pd.read_parquet(f"{SF_SMALL}/documents.parquet")
    want = set()
    for i, src in zip(d.doc_id, d.source):
        thr = 3865470566 if int(src[3:]) < 10 else 1073741824
        if _knuth(int(i)) < thr:
            want.add(int(i))
    assert got == want


def test_sample_priority_matches_python_model(spark):
    """q_sample_priority: Duffield-Lund-Thorup priority = scaled draw
    // weight-cents, 100 smallest — re-derived with direct ints."""
    got = [(int(r.o_orderkey), int(r.priority))
           for _, r in _run(spark, "q_sample_priority").iterrows()]
    o = pd.read_parquet(f"{SF_SMALL}/orders.parquet")
    rows = []
    for k, p in zip(o.o_orderkey, o.o_totalprice):
        cents = _cents(p)
        if cents >= 1:
            rows.append(((_knuth(int(k)) * 10000) // cents, int(k)))
    want = [(k, pr) for pr, k in sorted(rows)[:100]]
    assert sorted(got) == sorted(want)


def test_interval_overlap_matches_python_model(spark):
    """q_join_interval_overlap: per-user 1h-gap session intervals,
    cross-user closed-interval overlaps, re-derived with loops."""
    got = {(int(r.user_a), int(r.user_b)):
           (int(r.n_overlaps), int(r.overlap_us))
           for _, r in _run(spark, "q_join_interval_overlap").iterrows()}
    e = _events()
    byu = defaultdict(list)
    for u, t in zip(e.user_id, _us(e.ts)):
        byu[int(u)].append(int(t))
    ivs = defaultdict(list)
    for u, ts in byu.items():
        ts.sort()
        cur = [ts[0]]
        for a, b in zip(ts, ts[1:]):
            if b - a > 3_600_000_000:
                ivs[u].append((cur[0], cur[-1]))
                cur = []
            cur.append(b)
        ivs[u].append((cur[0], cur[-1]))
    want = defaultdict(lambda: [0, 0])
    users = sorted(ivs)
    for i, ua in enumerate(users):
        for ub in users[i + 1:]:
            for s1, e1 in ivs[ua]:
                for s2, e2 in ivs[ub]:
                    if s1 <= e2 and s2 <= e1:
                        want[(ua, ub)][0] += 1
                        want[(ua, ub)][1] += min(e1, e2) - max(s1, s2)
    assert got == {k: tuple(v) for k, v in want.items()}


def test_running_distinct_matches_python_model(spark):
    """q_win_running_distinct: distinct event types at-or-before each
    event in (ts, event_id) order, re-derived with a per-user scan."""
    got = {int(r.event_id): int(r.distinct_types_so_far)
           for _, r in _run(spark, "q_win_running_distinct").iterrows()}
    e = _events()
    byu = defaultdict(list)
    for i, u, t, k in zip(e.event_id, e.user_id, _us(e.ts), e.event_type):
        byu[int(u)].append((int(t), int(i), k))
    want = {}
    for rows in byu.values():
        seen = set()
        for t, i, k in sorted(rows):
            seen.add(k)
            want[i] = len(seen)
    assert got == want


def test_markov_matches_python_model(spark):
    """q_events_markov: consecutive-event transition counts per user in
    (ts, event_id) order."""
    got = {(r.prev, r.next): int(r.n_transitions)
           for _, r in _run(spark, "q_events_markov").iterrows()}
    e = _events()
    byu = defaultdict(list)
    for u, t, i, k in zip(e.user_id, _us(e.ts), e.event_id, e.event_type):
        byu[int(u)].append((int(t), int(i), k))
    want = defaultdict(int)
    for rows in byu.values():
        rows.sort()
        for (_, _, a), (_, _, b) in zip(rows, rows[1:]):
            want[(a, b)] += 1
    assert got == dict(want)


def test_no_date_trunc_in_oracles():
    """DuckDB 1.0.0 (the pinned oracle engine) LOSES the NULL validity
    mask on date_trunc over a table column: the scalar case returns
    NULL, but the columnar path renders NaT while `IS NULL` returns
    FALSE, and a window PARTITION BY on the expression becomes
    NONDETERMINISTIC (r12 null-stress sweep: q_ts_resample_ohlc's
    oracle `close` flapped across identical runs). `time_bucket` is
    null-mask-safe and verified calendar-equivalent for every unit used
    (hour/day/week/month/quarter/year, 0 mismatches over sf0.1) — every
    oracle uses it instead; this test keeps date_trunc from creeping
    back."""
    bad = [n for n, s in all_specs().items()
           if s.oracle and "date_trunc" in s.oracle]
    assert bad == [], bad


def test_audit_table_covers_registry():
    """AUDIT.md's per-query classification must cover EXACTLY the
    registered set — a new query landing without its audit row (class +
    rationale, and a model test if M-R) fails here, enforcing the
    AUDIT.md §5 maintenance rule mechanically."""
    import os
    import re

    audit = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "AUDIT.md")
    text = open(audit).read()
    section3 = text.split("## 3.")[1].split("## 4.")[0]
    table = re.findall(r"^\| `(q_[a-z0-9_]+)` \|", section3, re.M)
    audited = set(table)
    assert len(table) == len(audited), "duplicate audit rows"
    registered = set(all_specs())
    assert audited == registered, (
        f"unclassified: {sorted(registered - audited)}; "
        f"stale rows: {sorted(audited - registered)}")


# ----------------------------- batch 6: adapted-TPC-H semantics locks
# The TPC-H rows are engine-definitional EXCEPT where the testdata
# forced an adaptation (no partsupp/commitdate/phone) — the adaptation
# is OUR hand-written semantics with no published answer behind it.
# Direct pandas/loop models for the trickiest adapted formulations.

from decimal import ROUND_HALF_UP, Decimal  # noqa: E402

_D4 = Decimal("0.0001")
_D2 = Decimal("0.01")


def _dec(v, q=_D4) -> Decimal:
    return Decimal(repr(float(v))).quantize(q, rounding=ROUND_HALF_UP)


def _rev(price, disc) -> Decimal:
    """CAST(price AS DEC(18,4)) * CAST(1 - disc AS DEC(18,4)) — the
    module's exact revenue term, re-derived with Python Decimal."""
    return _dec(price) * _dec(1.0 - float(disc))


def _tables():
    li = pd.read_parquet(f"{SF_SMALL}/lineitem.parquet")
    o = pd.read_parquet(f"{SF_SMALL}/orders.parquet")
    return li, o


def test_tpch_q13_matches_model(spark):
    """Adapted Q13: priority filter INSIDE the left join — customers
    with zero qualifying orders must land in the k=0 bucket."""
    got = {int(r.c_count): int(r.custdist)
           for _, r in _run(spark, "q_tpch_q13").iterrows()}
    _, o = _tables()
    c = pd.read_parquet(f"{SF_SMALL}/customer.parquet")
    per_cust = defaultdict(int)
    for ck, pri in zip(o.o_custkey, o.o_orderpriority):
        if pri != "1-URGENT":
            per_cust[int(ck)] += 1
    hist = defaultdict(int)
    for ck in c.c_custkey:
        hist[per_cust.get(int(ck), 0)] += 1
    assert got == dict(hist)


def test_tpch_q15_matches_model(spark):
    """Adapted Q15: exact-decimal quarterly revenue, max-with-ties —
    the tie inclusion is the hand-written part."""
    got = {int(r.s_suppkey): r.total_revenue
           for _, r in _run(spark, "q_tpch_q15").iterrows()}
    li, _ = _tables()
    lo, hi = pd.Timestamp("1997-01-01"), pd.Timestamp("1997-04-01")
    rev = defaultdict(lambda: Decimal(0))
    for sk, sd, p, d in zip(li.l_suppkey, li.l_shipdate,
                            li.l_extendedprice, li.l_discount):
        if lo <= sd < hi:
            rev[int(sk)] += _rev(p, d)
    best = max(rev.values())
    want = {sk: str(r.quantize(Decimal("0.00000001")))
            for sk, r in rev.items() if r == best}
    assert got == want


def test_tpch_q17_matches_model(spark):
    """Adapted Q17: lineitems below 0.2× their part's average quantity,
    one brand, exact-decimal sum / 7.0."""
    row = _run(spark, "q_tpch_q17").iloc[0]
    li, _ = _tables()
    part = pd.read_parquet(f"{SF_SMALL}/part.parquet")
    brand7 = {int(k) for k, b in zip(part.p_partkey, part.p_brand)
              if b == "Brand#7"}
    qty = defaultdict(list)
    for pk, q in zip(li.l_partkey, li.l_quantity):
        qty[int(pk)].append(float(q))
    total = Decimal(0)
    for pk, q, p in zip(li.l_partkey, li.l_quantity, li.l_extendedprice):
        pk = int(pk)
        if pk in brand7 and float(q) < 0.2 * (sum(qty[pk]) / len(qty[pk])):
            total += _dec(p)
    assert abs(float(row.avg_yearly) - float(total) / 7.0) <= 2e-6


def test_tpch_q21_matches_model(spark):
    """Adapted Q21: per supplier, late lineitems (ship > order+60d) of
    finished multi-supplier orders where it was the ONLY late supplier
    — the exists/not-exists pair re-derived with per-order scans."""
    got = [(r.s_name, int(r.numwait))
           for _, r in _run(spark, "q_tpch_q21").iterrows()]
    li, o = _tables()
    sup = pd.read_parquet(f"{SF_SMALL}/supplier.parquet")
    sname = {int(k): n for k, n in zip(sup.s_suppkey, sup.s_name)}
    odate = {int(k): d for k, d in zip(o.o_orderkey, o.o_orderdate)}
    fstat = {int(k) for k, s in zip(o.o_orderkey, o.o_orderstatus)
             if s == "F"}
    per_order = defaultdict(list)      # order -> [(supp, late)]
    for ok, sk, sd in zip(li.l_orderkey, li.l_suppkey, li.l_shipdate):
        ok = int(ok)
        late = sd > odate[ok] + pd.Timedelta(days=60)
        per_order[ok].append((int(sk), late))
    waits = defaultdict(int)
    for ok, rows in per_order.items():
        if ok not in fstat:
            continue
        supps = {s for s, _ in rows}
        late_supps = {s for s, lt in rows if lt}
        for s, lt in rows:
            if lt and len(supps) > 1 and late_supps == {s}:
                waits[sname[s]] += 1
    want = sorted(waits.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    assert got == want


def test_tpch_q22_matches_model(spark):
    """Adapted Q22 (nation-keyed): rich-balance cut from an exact
    decimal mean, customers with no recent orders."""
    got = {int(r.c_nationkey): (int(r.numcust), r.totacctbal)
           for _, r in _run(spark, "q_tpch_q22").iterrows()}
    _, o = _tables()
    c = pd.read_parquet(f"{SF_SMALL}/customer.parquet")
    pos = [_dec(b, _D2) for b in c.c_acctbal if float(b) > 0.0]
    thresh = float(sum(pos)) / len(pos)
    recent = {int(k) for k, d in zip(o.o_custkey, o.o_orderdate)
              if d >= pd.Timestamp("1999-01-01")}
    agg = defaultdict(lambda: [0, Decimal(0)])
    for ck, nk, b in zip(c.c_custkey, c.c_nationkey, c.c_acctbal):
        if float(b) > thresh and int(ck) not in recent:
            agg[int(nk)][0] += 1
            agg[int(nk)][1] += _dec(b, _D2)
    assert got == {nk: (n, str(t.quantize(_D2)))
                   for nk, (n, t) in agg.items()}


def test_tpch_q2_matches_model(spark):
    """Adapted Q2: best-balance EUROPE supplier per qualifying part
    over OBSERVED supply pairs (max s_acctbal stands in for min
    supplycost), ties included, top-100 fully tie-broken."""
    got = [(float(r.s_acctbal), r.s_name, r.n_name, int(r.p_partkey))
           for _, r in _run(spark, "q_tpch_q2").iterrows()]
    li, _ = _tables()
    sup = pd.read_parquet(f"{SF_SMALL}/supplier.parquet")
    nat = pd.read_parquet(f"{SF_SMALL}/nation.parquet")
    reg = pd.read_parquet(f"{SF_SMALL}/region.parquet")
    part = pd.read_parquet(f"{SF_SMALL}/part.parquet")
    eu_regions = {int(k) for k, n in zip(reg.r_regionkey, reg.r_name)
                  if n == "EUROPE"}
    nat_info = {int(k): (n, int(rk) in eu_regions)
                for k, n, rk in zip(nat.n_nationkey, nat.n_name,
                                    nat.n_regionkey)}
    sup_info = {int(k): (float(b), nm, nat_info[int(nk)])
                for k, b, nm, nk in zip(sup.s_suppkey, sup.s_acctbal,
                                        sup.s_name, sup.s_nationkey)}
    pq_ok = {int(k): (nm, br)
             for k, nm, br, tp, sz in zip(part.p_partkey, part.p_name,
                                          part.p_brand, part.p_type,
                                          part.p_size)
             if tp == "LARGE" and 10 <= sz <= 30}
    pairs = {(int(pk), int(sk))
             for pk, sk in zip(li.l_partkey, li.l_suppkey)}
    cand = defaultdict(list)
    for pk, sk in pairs:
        if pk in pq_ok and sk in sup_info:
            bal, snm, (nname, in_eu) = sup_info[sk]
            if in_eu:
                cand[pk].append((bal, snm, nname))
    rows = []
    for pk, cs in cand.items():
        mb = max(b for b, _, _ in cs)
        for bal, snm, nname in cs:
            if bal == mb:
                rows.append((bal, snm, nname, pk))
    rows.sort(key=lambda r: (-r[0], r[2], r[1], r[3]))
    assert got == rows[:100]


def test_tpch_q20_matches_model(spark):
    """Adapted Q20: suppliers who shipped > 200 units of red-named
    parts in 1997 (shipped volume stands in for availqty)."""
    got = {(int(r.s_suppkey), r.s_name)
           for _, r in _run(spark, "q_tpch_q20").iterrows()}
    li, _ = _tables()
    sup = pd.read_parquet(f"{SF_SMALL}/supplier.parquet")
    part = pd.read_parquet(f"{SF_SMALL}/part.parquet")
    red = {int(k) for k, n in zip(part.p_partkey, part.p_name)
           if "red" in n}
    lo, hi = pd.Timestamp("1997-01-01"), pd.Timestamp("1998-01-01")
    vol = defaultdict(float)
    for pk, sk, sd, q in zip(li.l_partkey, li.l_suppkey,
                             li.l_shipdate, li.l_quantity):
        if int(pk) in red and lo <= sd < hi:
            vol[int(sk)] += float(q)
    keep = {sk for sk, v in vol.items() if v > 200.0}
    want = {(int(k), n) for k, n in zip(sup.s_suppkey, sup.s_name)
            if int(k) in keep}
    assert got == want


def test_tpch_q11_matches_model(spark):
    """Adapted Q11: per-nation inventory value over observed supply
    pairs with the 4% (×25) decimal threshold."""
    got = {r.n_name: r.value
           for _, r in _run(spark, "q_tpch_q11").iterrows()}
    li, _ = _tables()
    sup = pd.read_parquet(f"{SF_SMALL}/supplier.parquet")
    nat = pd.read_parquet(f"{SF_SMALL}/nation.parquet")
    part = pd.read_parquet(f"{SF_SMALL}/part.parquet")
    nname = {int(k): n for k, n in zip(nat.n_nationkey, nat.n_name)}
    snat = {int(k): nname[int(nk)]
            for k, nk in zip(sup.s_suppkey, sup.s_nationkey)}
    price = {int(k): _dec(p) for k, p in zip(part.p_partkey,
                                             part.p_retailprice)}
    pairs = {(int(pk), int(sk))
             for pk, sk in zip(li.l_partkey, li.l_suppkey)}
    val = defaultdict(lambda: Decimal(0))
    for pk, sk in pairs:
        if pk in price and sk in snat:
            val[snat[sk]] += price[pk]
    total = sum(val.values())
    want = {n: str(v.quantize(_D4)) for n, v in val.items()
            if v * 25 > total}
    assert got == want
