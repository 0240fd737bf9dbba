from __future__ import annotations

import datetime as dt

from perfbench import oracle
from perfbench.run import reconciles

HOUR = dt.datetime(2024, 1, 1, 5)
ROWS = [("ok", HOUR, 10, 1234, 3, 2), ("dead_letter", HOUR, 1, 0, 1, 1)]


def test_perturbed_result_counts_in_error_rate():
    tally = oracle.Tally()
    want = oracle.normalize(ROWS)
    same = lambda rows: oracle.normalize(rows) == want  # noqa: E731
    assert tally.run("good", lambda: list(reversed(ROWS)), same)[0] is not None
    perturbed = [ROWS[0][:2] + (11,) + ROWS[0][3:], ROWS[1]]
    assert tally.run("perturbed", lambda: perturbed, same) == (None, None, None)
    assert (tally.attempted, tally.failed, tally.error_rate) == (2, 1, 0.5)
    assert tally.failures == ["perturbed"]


def test_raising_operation_counts_as_failed():
    tally = oracle.Tally()

    def boom():
        raise RuntimeError("engine failure")

    assert tally.run("boom", boom, lambda _: True) == (None, None, None)
    assert tally.error_rate == 1.0


def test_normalize_treats_aware_utc_as_naive():
    aware = [("ok", HOUR.replace(tzinfo=dt.timezone.utc), 10, 1234, 3, 2)]
    assert oracle.normalize(aware) == oracle.normalize(ROWS[:1])


def test_reconcile():
    routes = dict.fromkeys(oracle.ROUTES, 0)
    good = {"rows": 20, "primary": 16, "fallback": 3, "misses": 1,
            "routes": {**routes, "ok": 16, "app_logs": 3, "dead_letter": 1}}
    assert reconciles(good, 20)
    assert not reconciles({**good, "misses": 2}, 20)
    assert not reconciles({**good, "routes": {**good["routes"], "ok": 15}}, 20)
    assert not reconciles(good, 21)


def test_oracle_routes_cover_every_row(tmp_path):
    from perfbench import gen

    docs = gen.write_documents(gen.documents(5, 400, "access"),
                               str(tmp_path / "documents.parquet"))
    expected = oracle.compute(docs)
    assert sum(expected["routes"].values()) == 400
    assert expected["routes"]["dead_letter"] == 400 // 20
    assert sum(r[2] for r in expected["aggregate"]) == 400
