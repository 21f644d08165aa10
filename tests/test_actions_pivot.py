"""Actions pivot semantics (reference R1, transform.py:22-39):
'.'->'_' sanitize, whitelist filter, last-occurrence-wins, coerce->0."""

from __future__ import annotations

from projeto_de_etl_com_api_do_meta_spark.operators.actions_pivot import (
    ALLOWED_ACTION_COLUMNS,
    normalize_actions_dynamic,
    normalize_actions_fixed,
)

_SCHEMA = (
    "k string, actions array<struct<action_type: string, value: string>>"
)


def test_fixed_pivot_whitelist_and_sanitize(spark):
    df = spark.createDataFrame(
        [
            (
                "r1",
                [
                    {"action_type": "lead", "value": "7"},
                    {"action_type": "offsite_conversion.fb_pixel_lead", "value": "3"},
                    {"action_type": "not_whitelisted_action", "value": "99"},
                ],
            )
        ],
        _SCHEMA,
    )
    out = normalize_actions_fixed(df)
    row = out.first()
    assert row.lead == 7
    assert row.offsite_conversion_fb_pixel_lead == 3  # '.' -> '_'
    assert "not_whitelisted_action" not in out.columns
    assert row.purchase == 0  # whitelisted but absent -> 0
    assert set(ALLOWED_ACTION_COLUMNS) <= set(out.columns)
    assert "actions" not in out.columns
    assert out.columns[: len(ALLOWED_ACTION_COLUMNS) + 1] == [
        "k", *ALLOWED_ACTION_COLUMNS
    ]


def test_fixed_pivot_last_occurrence_wins(spark):
    dotted, plain = "offsite_conversion.fb_pixel_lead", "offsite_conversion_fb_pixel_lead"
    df = spark.createDataFrame(
        [
            ("r1", [{"action_type": "lead", "value": "1"},
                    {"action_type": "lead", "value": "5"}]),
            # both spellings sanitize to one name; the later entry wins
            ("r2", [{"action_type": dotted, "value": "4"},
                    {"action_type": plain, "value": "6"}]),
            ("r3", [{"action_type": plain, "value": "6"},
                    {"action_type": dotted, "value": "4"}]),
        ],
        _SCHEMA,
    )
    got = {r.k: (r.lead, r[plain]) for r in normalize_actions_fixed(df).collect()}
    assert got == {"r1": (5, 0), "r2": (0, 6), "r3": (0, 4)}


def test_fixed_pivot_null_and_junk_values(spark):
    df = spark.createDataFrame(
        [
            ("r1", None),
            ("r2", []),
            ("r3", [{"action_type": "lead", "value": "N/A"}]),
            ("r4", [{"action_type": "lead", "value": "3.9"}]),
            ("r5", [{"action_type": "lead", "value": ""}]),
            ("r6", [{"action_type": "lead", "value": None}]),
        ],
        _SCHEMA,
    )
    rows = {r.k: r for r in normalize_actions_fixed(df).collect()}
    assert {k: r.lead for k, r in rows.items()} == {
        "r1": 0, "r2": 0, "r3": 0, "r4": 3, "r5": 0, "r6": 0,
    }
    for k in ("r1", "r2"):  # a NULL list, like an empty one, is all 0
        assert [rows[k][c] for c in ALLOWED_ACTION_COLUMNS] == [0] * len(
            ALLOWED_ACTION_COLUMNS
        )


def test_dynamic_pivot_discovers_columns(spark):
    df = spark.createDataFrame(
        [
            ("r1", [{"action_type": "custom.thing", "value": "4"}]),
            ("r2", [{"action_type": "lead", "value": "2"}]),
            ("r3", None),
        ],
        _SCHEMA,
    )
    out = normalize_actions_dynamic(df, keys=["k"])
    assert set(out.columns) == {"k", "custom_thing", "lead"}
    vals = {r.k: (r.custom_thing, r.lead) for r in out.collect()}
    assert vals == {"r1": (4, 0), "r2": (0, 2), "r3": (0, 0)}
