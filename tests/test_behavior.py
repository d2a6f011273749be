"""Unit semantics for the funnel (operators/funnel.py) — the hash
oracles in qcatalog/behavior.py pin the composed results; these tests
pin the EDGE semantics on hand-built rows where the expected answer is
derivable by eye."""

from __future__ import annotations

import datetime as dt

from hainan_big_data_recommend_system_spark.operators.funnel import (
    funnel_steps,
    funnel_summary,
)


def _ts(day, hour=0):
    return dt.datetime(2024, 1, day, hour)


def _events(spark, rows):
    return spark.createDataFrame(
        [(u, _ts(d, h), t) for u, d, h, t in rows],
        "user_id long, ts timestamp, event_type string",
    )


class TestFunnel:
    def test_greedy_chain_is_reachability_exact(self, spark):
        # u1: view(1) click(2) purchase(3) — full chain.
        # u2: click(1) view(2) purchase(3) — click BEFORE view must not
        #     count; no later click -> chain stops at view.
        # u3: view only.
        # u4: no view at all -> absent from output.
        ev = _events(
            spark,
            [
                (1, 1, 0, "view"), (1, 2, 0, "click"), (1, 3, 0, "purchase"),
                (2, 1, 0, "click"), (2, 2, 0, "view"), (2, 3, 0, "purchase"),
                (3, 1, 0, "view"),
                (4, 1, 0, "purchase"),
            ],
        )
        out = {
            r["user"]: r
            for r in funnel_steps(
                ev, "user_id", "ts", "event_type",
                ["view", "click", "purchase"],
            ).collect()
        }
        assert set(out) == {1, 2, 3}
        assert out[1]["steps_completed"] == 3
        assert out[2]["steps_completed"] == 1
        assert out[2]["t_step_2"] is None
        assert out[3]["steps_completed"] == 1

    def test_strictness_and_earliest(self, spark):
        # equal timestamps do NOT advance the chain (strict >); the
        # earliest valid event is chosen even when later ones exist
        ev = _events(
            spark,
            [
                (1, 1, 0, "view"), (1, 1, 0, "click"),  # same instant
                (1, 2, 0, "click"), (1, 5, 0, "click"),
            ],
        )
        row = funnel_steps(
            ev, "user_id", "ts", "event_type", ["view", "click"]
        ).collect()[0]
        assert row["t_step_2"] == _ts(2)

    def test_window_deadline_anchored_on_step1(self, spark):
        # chain completes only if within N seconds of the FIRST view —
        # u1 converts on day 3 (inside 2 days), u2's purchase on day 9
        # is outside the 2-day window even though it follows the click
        ev = _events(
            spark,
            [
                (1, 1, 0, "view"), (1, 2, 0, "click"), (1, 3, 0, "purchase"),
                (2, 1, 0, "view"), (2, 2, 0, "click"), (2, 9, 0, "purchase"),
            ],
        )
        out = {
            r["user"]: r["steps_completed"]
            for r in funnel_steps(
                ev, "user_id", "ts", "event_type",
                ["view", "click", "purchase"],
                within_seconds=2 * 86400,
            ).collect()
        }
        assert out == {1: 3, 2: 2}

    def test_summary_basis_points_exact(self, spark):
        ev = _events(
            spark,
            [(u, 1, 0, "view") for u in range(3)]
            + [(u, 2, 0, "click") for u in range(2)]
            + [(0, 3, 0, "purchase")],
        )
        per_user = funnel_steps(
            ev, "user_id", "ts", "event_type", ["view", "click", "purchase"]
        )
        rows = {
            r["step_index"]: r
            for r in funnel_summary(per_user, 3).collect()
        }
        assert [rows[i]["users_reached"] for i in (1, 2, 3)] == [3, 2, 1]
        assert rows[1]["conv_from_prev_bp"] == 10_000
        assert rows[2]["conv_from_first_bp"] == 6_666  # 2*10000 div 3
        assert rows[3]["conv_from_prev_bp"] == 5_000
