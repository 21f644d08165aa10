"""``ads_daily_etl``: a seeded Meta-API transport, the daily operation, and
an independent pandas implementation of the reference contract.

Simulated day ``d`` (0-based from ``START``) serves, for every date in
``[d - redeliver, d]``, insights pages (no breakdown, age x gender, region),
the ads entity list, the lead forms and per-form leads.  A date re-served on
a later day carries updated metrics (attribution settling), so each daily
upsert both updates earlier rows and inserts the new date's rows.

Sizes follow FIXTURES.md, the repository's description of Meta-shaped test
inputs: about 50 ads over 14 days, 5 % duplicate insight rows, about 6 000
age x gender rows (48 % of the 18 cells per ad-day), about 3 000 region
rows (16 % of the 27 Brazilian states per ad-day), about 200 leads over 5
forms (3 per form and day) and about 10 % duplicated ad ids.

All values derive from ``zlib.crc32`` of (seed, kind, ids, version): the
transport is deterministic in every process, including the executors that
``MetaRestSource.read_leads`` ships it to inside ``mapInPandas``.  Its
pickled form keeps only its parameters, so shipping it costs a few bytes.
"""

from __future__ import annotations

import json
import math
import os
import random
import zlib
from datetime import date, timedelta

import pandas as pd

START = date(2024, 3, 1)
ACTION_TYPES = [
    "lead", "purchase", "link_click", "page_engagement", "post_engagement",
    "video_view", "comment", "offsite_conversion.fb_pixel_lead",
    "offsite_conversion.fb_pixel_purchase", "onsite_conversion.lead_grouped",
    "onsite_conversion.messaging_first_reply", "not_whitelisted_action",
    "another.ignored.type",
]
STATUSES = ["ACTIVE", "PAUSED", "PENDING_REVIEW", "ARCHIVED", "DELETED"]
AGES = ["18-24", "25-34", "35-44", "45-54", "55-64", "65+"]
GENDERS = ["male", "female", "unknown"]
REGIONS = [
    "Acre", "Alagoas", "Amapa", "Amazonas", "Bahia", "Ceara", "Distrito Federal",
    "Espirito Santo", "Goias", "Maranhao", "Mato Grosso", "Mato Grosso do Sul",
    "Minas Gerais", "Para", "Paraiba", "Parana", "Pernambuco", "Piaui", "Rio de Janeiro",
    "Rio Grande do Norte", "Rio Grande do Sul", "Rondonia", "Roraima", "Santa Catarina",
    "Sao Paulo", "Sergipe", "Tocantins",
]
TABLES = ("ads_dimension", "ads_campaign_performance", "ads_lead_insights", "ads_raw_leads")
#: Share of breakdown cells present per ad-day, duplicate insight rows, and
#: leads per form and day (FIXTURES.md A2, A1, A5).
DEMO_FILL, GEO_FILL, DUP_ROWS = 0.48, 0.16, 0.05
N_FORMS, LEADS_PER_FORM_DAY = 5, (1, 5)


def _rng(*parts) -> random.Random:
    return random.Random(zlib.crc32("|".join(map(str, parts)).encode()))


def _paginate(rows: list[dict], limit: int):
    for page in range(max(1, math.ceil(len(rows) / limit))):
        yield rows[page * limit : (page + 1) * limit]


class SeededMetaTransport:
    """Same interface as ``sources.meta_rest.FakeMetaTransport``; serves
    simulated day ``day`` of a seeded account with ``n_ads`` ads: every date
    from ``day - redeliver`` to ``day``."""

    def __init__(self, seed: int, day: int, n_ads: int, redeliver: int) -> None:
        self.seed, self.day, self.n_ads, self.redeliver = seed, day, n_ads, redeliver
        self.calls = 0
        self._pages: dict | None = None

    def __getstate__(self) -> dict:
        # Executors only serve leads, which are generated on demand.
        return {**self.__dict__, "_pages": None}

    # -- generated data ------------------------------------------------------
    def dates(self) -> list[int]:
        return list(range(max(0, self.day - self.redeliver), self.day + 1))

    def _ad(self, i: int) -> dict:
        return {"ad_id": f"12{i:013d}", "adset_id": f"23{i // 4:013d}",
                "campaign_id": f"34{i // 16:013d}"}

    def _metric(self, rng: random.Random, hi: int) -> str:
        r = rng.random()
        return "" if r < 0.01 else "N/A" if r < 0.02 else str(rng.randint(0, hi))

    def _actions(self, rng: random.Random) -> list[dict] | None:
        if rng.random() < 0.1:
            return None if rng.random() < 0.5 else []
        return [{"action_type": t, "value": str(rng.randint(0, 500))}
                for t in rng.sample(ACTION_TYPES, rng.randint(1, 8))]

    def _insight_row(self, i: int, d: int, cell: dict) -> dict:
        rng = _rng(self.seed, "ins", i, d, self.day - d, *cell.values())
        day = (START + timedelta(days=d)).isoformat()
        return {**self._ad(i), "date_start": day, "date_stop": day,
                "impressions": self._metric(rng, 100000),
                "clicks": self._metric(rng, 5000),
                "spend": f"{rng.uniform(0, 5000):.2f}",
                "actions": self._actions(rng), "action_values": self._actions(rng),
                **cell}

    def _build(self) -> dict:
        plain, demo, geo = [], [], []
        for d in self.dates():
            for i in range(self.n_ads):
                row = self._insight_row(i, d, {})
                plain.append(row)
                if _rng(self.seed, "dup", i, d, self.day).random() < DUP_ROWS:
                    plain.append({**row, "impressions": None, "clicks": None, "spend": None})
                cells = _rng(self.seed, "cells", i, d)  # stable across re-deliveries
                demo += [self._insight_row(i, d, {"age": a, "gender": g})
                         for a in AGES for g in GENDERS if cells.random() < DEMO_FILL]
                geo += [self._insight_row(i, d, {"region": r})
                        for r in REGIONS if cells.random() < GEO_FILL]
        return {(): plain, ("age", "gender"): demo, ("region",): geo, "ads": self._ads()}

    def _ads(self) -> list[dict]:
        rows = []
        for i in list(range(self.n_ads)) + list(range(0, self.n_ads, 10)):  # ~10 % dup ids
            rng = _rng(self.seed, "ad", i, self.day, len(rows))
            ad = self._ad(i)
            rows.append({
                "id": ad["ad_id"], "name": f"Ad {i} day{self.day} r{len(rows)}",
                "adset_id": ad["adset_id"],
                "adset": None if rng.random() < 0.05
                else {"id": ad["adset_id"], "name": f"AdSet {i // 4} day{self.day}"},
                "campaign_id": ad["campaign_id"],
                "campaign": None if rng.random() < 0.05
                else {"id": ad["campaign_id"], "name": f"Campaign {i // 16}"},
                "effective_status": STATUSES[rng.randrange(len(STATUSES))],
            })
        return rows

    @property
    def pages(self) -> dict:
        if self._pages is None:
            self._pages = self._build()
        return self._pages

    def raw_row_count(self) -> int:
        p = self.pages
        leads = sum(len(self.leads(f"45{f:013d}")) for f in range(N_FORMS))
        return sum(len(p[k]) for k in ((), ("age", "gender"), ("region",), "ads")) + leads

    def leads(self, form_id: str) -> list[dict]:
        rows = []
        for d in self.dates():
            rng = _rng(self.seed, "leads", form_id, d)
            for i in range(rng.randint(*LEADS_PER_FORM_DAY)):
                ad = self._ad(rng.randrange(self.n_ads))
                fd = None if rng.random() < 0.05 else json.dumps([
                    {"name": "email", "values": [f"user{d}_{i}@example.com"]},
                    {"name": "status", "values": [f"v{self.day - d}"]},
                ])
                rows.append({
                    "lead_id": f"56{form_id[-4:]}{d:03d}{i:06d}",
                    "created_time": f"{(START + timedelta(days=d)).isoformat()}T"
                                    f"{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:00+0000",
                    **ad, "form_id": form_id, "field_data": fd, "ad_platform_data": None,
                })
        return rows

    # -- transport interface -------------------------------------------------
    def get_ads(self, fields: list[str], params: dict):
        rows = self.pages["ads"]
        for flt in params.get("filtering", []):
            if flt.get("operator") == "IN":
                field, allowed = flt["field"].split(".")[-1], set(flt["value"])
                rows = [r for r in rows if r.get(field) in allowed]
        return self._count(_paginate([{k: r.get(k) for k in fields} for r in rows],
                                     params.get("limit", 1000)))

    def get_insights(self, fields: list[str], params: dict):
        breakdowns = tuple(params.get("breakdowns", []))
        keep = list(fields) + list(breakdowns) + ["date_start", "date_stop"]
        rows = [{k: r.get(k) for k in keep} for r in self.pages[breakdowns]]
        return self._count(_paginate(rows, params.get("limit", 1000)))

    def get_lead_gen_forms(self, fields: list[str], params: dict):
        forms = [{"id": f"45{f:013d}"} for f in range(N_FORMS)]
        return self._count(_paginate(forms, params.get("limit", 100)))

    def get_leads(self, form_id: str, fields: list[str], params: dict):
        return _paginate(self.leads(form_id), params.get("limit", 100))

    def _count(self, pages):
        for page in pages:
            self.calls += 1
            yield page

    def lead_pages(self) -> int:
        """Pages ``get_leads`` serves for this day (called on executors, so
        counted here rather than observed)."""
        return sum(max(1, math.ceil(len(self.leads(f"45{f:013d}")) / 100))
                   for f in range(N_FORMS))


# -- the operation under test -----------------------------------------------

def run_day(spark, source, target_dir: str, on_layer=None) -> None:
    """One simulated day: the four ``run_*`` plans over ``source`` (a
    ``MetaRestSource``), each upserted into the local star schema under
    ``target_dir``.  ``on_layer(name, fn, table)`` wraps each layer call
    (``plans.build``, ``sinks.upsert``) for tracing; by default calls run
    bare."""
    from projeto_de_etl_com_api_do_meta_spark.plans import pipelines
    from projeto_de_etl_com_api_do_meta_spark.schemas import UPSERT_KEYS as keys
    from projeto_de_etl_com_api_do_meta_spark.sinks.upsert import parquet_upsert

    call = on_layer or (lambda _name, fn, _table: fn())
    os.makedirs(target_dir, exist_ok=True)
    plans = {
        "ads_dimension": pipelines.run_dimension,
        "ads_campaign_performance": pipelines.run_campaign_performance,
        "ads_lead_insights": pipelines.run_lead_insights,
        "ads_raw_leads": pipelines.run_raw_leads,
    }
    for table, plan in plans.items():
        path = os.path.join(target_dir, table)
        df = call("plans.build", lambda: plan(source), table)
        call("sinks.upsert", lambda: parquet_upsert(spark, df, path, keys[table]), table)


# -- independent pandas implementation of the reference contract ------------

WHITELIST = (
    "lead", "purchase", "link_click", "page_engagement", "post_engagement",
    "video_view", "comment", "offsite_complete_registration_add_meta_leads",
    "onsite_conversion_lead_grouped", "offsite_search_add_meta_leads",
    "offsite_content_view_add_meta_leads", "onsite_conversion_messaging_first_reply",
    "onsite_conversion_messaging_conversation_started_7d",
    "onsite_conversion_total_messaging_connection",
    "onsite_conversion_messaging_conversation_replied_7d",
    "offsite_conversion_fb_pixel_lead", "offsite_conversion_fb_pixel_purchase",
    "onsite_conversion_messaging_block",
)
KEYS = ["date_start", "ad_id", "adset_id", "campaign_id"]
UPSERT_KEYS = {
    "ads_dimension": ["ad_id"],
    "ads_campaign_performance": ["date_start", "ad_id"],
    "ads_lead_insights": ["date_start", "ad_id", "age", "gender", "region"],
    "ads_raw_leads": ["lead_id"],
}


def _num(v) -> float | None:
    try:
        return float(v)
    except (TypeError, ValueError):
        return None


def _count(v) -> int:
    x = _num(v)
    return 0 if x is None else int(math.floor(x))


def _normalize_row(r: dict) -> dict:
    out = {k: v for k, v in r.items() if k not in ("actions", "action_values")}
    last: dict[str, str] = {}
    for a in r.get("actions") or []:
        last[a["action_type"].replace(".", "_")] = a["value"]
    for name in WHITELIST:
        out[name] = _count(last.get(name))
    out["impressions"] = _count(r.get("impressions"))
    out["clicks"] = _count(r.get("clicks"))
    out["spend"] = _num(r.get("spend")) or 0.0
    return out


def _ratio(n: float, d: float) -> float:
    return float(n) / float(d) if d else 0.0


def _day(s: str) -> date:
    return date.fromisoformat(s[:10])


def reference_tables(t: SeededMetaTransport) -> dict[str, pd.DataFrame]:
    """The four target tables one day's pages must produce, computed row by
    row in Python from the same pages the transport serves."""
    p = t.pages
    dim: dict[str, dict] = {}
    for r in p["ads"]:
        if r["effective_status"] in ("ACTIVE", "PAUSED", "PENDING_REVIEW"):
            dim[r["id"]] = {  # keep last
                "ad_id": r["id"], "ad_name": r["name"], "adset_id": r["adset_id"],
                "adset_name": (r["adset"] or {}).get("name"),
                "campaign_id": r["campaign_id"],
                "campaign_name": (r["campaign"] or {}).get("name"),
            }

    perf: dict[tuple, dict] = {}
    for r in map(_normalize_row, p[()]):
        k = tuple(r[c] for c in KEYS)
        if k not in perf:  # first row per key (all values non-null after coercion)
            perf[k] = {
                "date_start": _day(r["date_start"]), "ad_id": r["ad_id"],
                "adset_id": r["adset_id"], "campaign_id": r["campaign_id"],
                "total_impressions": r["impressions"], "total_clicks": r["clicks"],
                "total_spend": r["spend"], "total_leads": r["lead"], "total_successes": 0,
                "cpc": _ratio(r["spend"], r["clicks"]),
                "ctr": _ratio(r["clicks"], r["impressions"]),
                "cpl": _ratio(r["spend"], r["lead"]),
            }

    demo = [_normalize_row(r) for r in p[("age", "gender")]]
    regions: dict[tuple, list[str]] = {}
    for r in p[("region",)]:
        regs = regions.setdefault(tuple(r[c] for c in KEYS), [])
        if r["region"] not in regs:
            regs.append(r["region"])
    actions = [c for c in WHITELIST if c != "lead"]
    li = []
    demo_keys = set()
    for r in demo:  # full outer join on KEYS, fan-out over regions
        k = tuple(r[c] for c in KEYS)
        demo_keys.add(k)
        for reg in regions.get(k, ["0"]):
            li.append({**dict(zip(KEYS, k)), "age": r["age"], "gender": r["gender"],
                       "region": reg, "total_spend": r["spend"], "total_leads": r["lead"],
                       **{c: r[c] for c in actions}})
    for k, regs in regions.items():
        if k not in demo_keys:
            for reg in regs:
                li.append({**dict(zip(KEYS, k)), "age": "0", "gender": "0", "region": reg,
                           "total_spend": 0.0, "total_leads": 0, **{c: 0 for c in actions}})
    for row in li:
        row["date_start"] = _day(row["date_start"])

    leads: dict[str, dict] = {}
    for f in range(N_FORMS):
        for r in t.leads(f"45{f:013d}"):
            row = {**r, "created_time": _day(r["created_time"])}
            cur = leads.get(r["lead_id"])
            if cur is None or (row["created_time"], row["form_id"]) < (cur["created_time"], cur["form_id"]):
                leads[r["lead_id"]] = row
    return {
        "ads_dimension": pd.DataFrame(list(dim.values())),
        "ads_campaign_performance": pd.DataFrame(list(perf.values())),
        "ads_lead_insights": pd.DataFrame(li),
        "ads_raw_leads": pd.DataFrame(list(leads.values())),
    }


def apply_upsert(state: dict[str, pd.DataFrame], batch: dict[str, pd.DataFrame]) -> None:
    """Last write wins per upsert key."""
    for table, df in batch.items():
        old = state.get(table)
        if old is None:
            state[table] = df.reset_index(drop=True)
            continue
        keys = UPSERT_KEYS[table]
        new_keys = set(map(tuple, df[keys].itertuples(index=False, name=None)))
        keep = [tuple(r) not in new_keys for r in old[keys].itertuples(index=False, name=None)]
        state[table] = pd.concat([old[keep], df[old.columns]], ignore_index=True)
