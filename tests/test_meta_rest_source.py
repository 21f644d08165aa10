"""MetaRestSource frame contract: edge pages become DataFrames under the
fixed schema contracts, with the row-based ``createDataFrame`` results for
odd values and its refusal of malformed shapes."""

from __future__ import annotations

import pytest

from projeto_de_etl_com_api_do_meta_spark import schemas
from projeto_de_etl_com_api_do_meta_spark.sources.meta_rest import MetaRestSource


class PagesTransport:
    """Serves fixed pages for the ads and insights edges."""

    def __init__(self, ads=(), insights=()) -> None:
        self.ads, self.insights = list(ads), list(insights)

    def get_ads(self, fields, params):
        return iter([self.ads])

    def get_insights(self, fields, params):
        return iter([self.insights])


def _rows(df):
    return [r.asDict(recursive=True) for r in df.collect()]


def test_missing_keys_and_null_struct(spark):
    ads = [
        {"id": "1", "adset": None, "campaign": {"id": "c", "name": "C"},
         "effective_status": "ACTIVE"},
        {"id": "2", "name": "two", "adset": {"id": "s"}},  # adset.name missing
    ]
    df = MetaRestSource(spark, PagesTransport(ads=ads)).read_ads()
    assert df.schema == schemas.RAW_ADS
    got = _rows(df)
    assert got[0]["name"] is None and got[0]["adset_id"] is None
    assert got[0]["adset"] is None  # a NULL struct, not a struct of NULLs
    assert got[0]["campaign"] == {"id": "c", "name": "C"}
    assert got[1]["adset"] == {"id": "s", "name": None}
    assert got[1]["effective_status"] is None


def test_empty_edge_keeps_contract_schema(spark):
    source = MetaRestSource(spark, PagesTransport())
    for breakdowns, contract in [
        ((), schemas.RAW_INSIGHTS_DAILY),
        (("age", "gender"), schemas.RAW_INSIGHTS_DEMO),
        (("region",), schemas.RAW_INSIGHTS_GEO),
    ]:
        df = source.read_insights(breakdowns)
        assert df.schema == contract and df.count() == 0
    ads = source.read_ads()
    assert ads.schema == schemas.RAW_ADS and ads.count() == 0


def test_non_string_scalars_match_row_based_conversion(spark):
    insights = [
        {"ad_id": 1, "impressions": 2**40, "clicks": True, "spend": 1.5,
         "date_start": "2024-03-01",
         "actions": [{"action_type": "lead", "value": 3},
                     ("purchase", 1e20)],  # a struct given by position
         "action_values": None},
        {"ad_id": "2", "spend": "0.10", "actions": [], "extra_key": 1},
    ]
    got = MetaRestSource(spark, PagesTransport(insights=insights)).read_insights()
    want = spark.createDataFrame(insights, schema=schemas.RAW_INSIGHTS_DAILY)
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)
    first = _rows(got)[0]
    assert (first["ad_id"], first["clicks"], first["spend"]) == ("1", "true", "1.5")
    assert first["actions"][0]["value"] == "3"


@pytest.mark.parametrize(
    "row",
    [
        {"ad_id": "1", "actions": "lead"},
        {"ad_id": "1", "actions": [1]},
        {"ad_id": "1", "actions": {"action_type": "lead", "value": "1"}},
    ],
)
def test_malformed_shapes_raise(spark, row):
    source = MetaRestSource(spark, PagesTransport(insights=[row]))
    with pytest.raises((TypeError, ValueError)):
        source.read_insights().collect()


def test_malformed_struct_raises(spark):
    source = MetaRestSource(spark, PagesTransport(ads=[{"id": "1", "adset": "not-a-struct"}]))
    with pytest.raises((TypeError, ValueError)):
        source.read_ads().collect()
