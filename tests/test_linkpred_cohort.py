"""Property tests: the burst / decay / CUSUM monitors vs plain-Python
references — adversarial shapes the sf corpora don't contain."""

from __future__ import annotations

import datetime as dt
import random


def test_burst_detection_matches_numpy(spark):
    import math

    from ctinexus_spark.operators.stats import burst_detection

    rng = random.Random(17)
    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    rows = []
    for key in ("a", "b", "c"):
        for day in range(20):
            n = rng.randint(1, 30) if rng.random() > 0.1 else rng.randint(100, 140)
            for _ in range(n):
                rows.append((key, base + dt.timedelta(days=day, seconds=rng.randrange(86400))))
    ev = spark.createDataFrame(rows, ["event_type", "ts"])
    got = {
        (r.event_type, r.bucket): (r.cnt, r.is_burst, r.dev_sq_ratio)
        for r in burst_detection(ev).collect()
    }
    # float reference
    counts: dict[str, dict[int, int]] = {}
    for k, ts in rows:
        d = int(ts.timestamp() * 1_000_000) // (86_400 * 1_000_000)
        dd = counts.setdefault(k, {})
        dd[d] = dd.get(d, 0) + 1
    for k, per_day in counts.items():
        vals = list(per_day.values())
        n = len(vals)
        mu = sum(vals) / n
        var = sum(v * v for v in vals) / n - mu * mu
        sd = math.sqrt(max(var, 0.0))
        for d, c in per_day.items():
            cnt, flag, ratio = got[(k, d)]
            assert cnt == c
            # strict inequality; compare against the float reference
            # away from the boundary (the exact test IS the contract)
            if abs(abs(c - mu) - 2 * sd) > 1e-6:
                assert flag == (abs(c - mu) > 2 * sd)
                if sd > 0:
                    assert abs(ratio - ((c - mu) / sd) ** 2) < 1e-6


def test_burst_boundary_is_strict_and_exact(spark):
    from ctinexus_spark.operators.stats import burst_detection

    # counts [1, 3]: mu=2, sigma=1 -> deviations exactly 1sigma.
    # k_sigma=(1,1): strict > must NOT flag either bucket.
    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    rows = [("k", base)] + [("k", base + dt.timedelta(days=1, seconds=i)) for i in range(3)]
    ev = spark.createDataFrame(rows, ["event_type", "ts"])
    out = burst_detection(ev, k_sigma=(1, 1)).collect()
    assert all(not r.is_burst for r in out)
    assert all(r.dev_sq_ratio == 1.0 for r in out)
    # (2,3)·sigma threshold: 1sigma deviation IS a burst
    out2 = burst_detection(ev, k_sigma=(2, 3)).collect()
    assert all(r.is_burst for r in out2)


def test_decayed_counts_matches_python_fold(spark):
    from ctinexus_spark.operators.stats import decay_weights, decayed_counts

    rng = random.Random(29)
    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    rows = []
    per_key_day: dict[str, dict[int, int]] = {}
    for key in ("a", "b"):
        for day in range(20):
            n = rng.randint(0, 9)
            dd = per_key_day.setdefault(key, {})
            if n:
                dd[day] = n
                rows += [
                    (key, base + dt.timedelta(days=day, seconds=i)) for i in range(n)
                ]
    # a fresh burst and its exact one-half-life-older twin
    rows += [("fresh", base + dt.timedelta(days=19, seconds=i)) for i in range(8)]
    rows += [("stale", base + dt.timedelta(days=12, seconds=i)) for i in range(8)]
    ev = spark.createDataFrame(rows, ["event_type", "ts"])
    got = {r.event_type: r for r in decayed_counts(ev, half_life=7.0).collect()}
    wt = dict(decay_weights(7.0, 64))
    epoch_day0 = int(base.timestamp()) // 86_400
    ref = epoch_day0 + 19
    for key, dd in per_key_day.items():
        acc = 0.0
        for day in sorted(dd):  # pinned bucket order, same left fold
            acc = acc + float(dd[day]) * wt[ref - (epoch_day0 + day)]
        assert got[key].score == acc
        assert got[key].n_events == sum(dd.values())
    assert got["fresh"].score == 8.0
    # exactly one half-life older -> exactly half the score
    assert got["stale"].score == 8.0 * wt[7]
    assert abs(got["stale"].score - 4.0) < 1e-12


def test_cusum_drift_matches_python_recurrence(spark):
    """The prefix identity must equal the textbook sequential
    recurrence S_t = max(0, S_{t-1} + (c_t - k)), including a
    deliberate level shift that the point-outlier burst test misses."""
    from ctinexus_spark.operators.stats import cusum_drift

    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    rng = random.Random(37)
    rows = []
    per_key: dict[str, dict[int, int]] = {}
    for key in ("steady", "shifted"):
        dd = {}
        for day in range(30):
            n = rng.randint(8, 12)
            if key == "shifted" and day >= 20:
                n += 6  # small sustained shift, never a 2-sigma point outlier
            dd[day] = n
            rows += [(key, base + dt.timedelta(days=day, seconds=i)) for i in range(n)]
        per_key[key] = dd
    ev = spark.createDataFrame(rows, ["event_type", "ts"])
    got = {
        (r.event_type, r.bucket): (r.cnt, r.k, r.cusum, r.alarm)
        for r in cusum_drift(ev, threshold=15).collect()
    }
    epoch_day0 = int(base.timestamp()) // 86_400
    for key, dd in per_key.items():
        total = sum(dd.values())
        k = total // len(dd)
        s = 0
        for day in sorted(dd):
            s = max(0, s + dd[day] - k)
            cnt, gk, cusum, alarm = got[(key, epoch_day0 + day)]
            assert (cnt, gk) == (dd[day], k)
            assert cusum == s
            assert alarm == (s > 15)
    # the sustained shift must alarm; the steady series must not
    assert any(v[3] for (kk, _), v in got.items() if kk == "shifted")
    assert not any(v[3] for (kk, _), v in got.items() if kk == "steady")
