"""Seeded inputs of api_ingest: the readers' request mix and the upstream
batches.  Pure functions of the seed (no Spark), so the same seed gives
byte-identical requests and payloads."""

from __future__ import annotations

import datetime as dt
import json
import random

#: value sets of the consolidated fact store built from the testdata
#: events (sources/synthetic.py): channel = inferred from utm_source/medium
CHANNELS = ["google_ads", "facebook_ads", "tiktok_ads", "linkedin_ads",
            "newsletter_cpc", "newsletter_social", "newsletter_email"]
CAMPAIGNS = ["back_to_school", "summer_sale", "test_campaign"]
LIMITS = [10, 50, 100]
OFFSETS = [0, 0, 10, 50]
DIM = 64


def _window(rng: random.Random, days: list[str]) -> tuple[str, str]:
    a, b = sorted(rng.sample(range(len(days)), 2))
    return days[a], days[b]


READ_ROUTES = ["metrics_channel", "metrics_funnel", "similar_by_vector"]
#: the read mix, 50% channel pages, 25% funnels, 25% PQ similarity: a fixed
#: route cycle (each client starts at its own offset) so every seed sends
#: the same route counts; the seed draws each request's parameters
READ_CYCLE = ["metrics_channel", "metrics_funnel", "metrics_channel", "similar_by_vector"]


def read_request(rng: random.Random, route: str, days: list[str]) -> dict:
    """One read request of ``route`` with seeded parameters over ``days``."""
    if route == "metrics_channel":
        d0, d1 = _window(rng, days)
        return {"route": route, "method": "GET", "path": "/metrics/channel",
                "params": {"channel": rng.choice(CHANNELS), "from": d0, "to": d1,
                           "limit": rng.choice(LIMITS), "offset": rng.choice(OFFSETS)}}
    if route == "metrics_funnel":
        d0, d1 = _window(rng, days)
        return {"route": route, "method": "GET", "path": "/metrics/funnel",
                "params": {"utm_campaign": rng.choice(CAMPAIGNS), "from": d0, "to": d1}}
    vec = [rng.gauss(0.0, 1.0) for _ in range(DIM)]
    norm = sum(x * x for x in vec) ** 0.5
    return {"route": route, "method": "POST", "path": "/corpus/similar",
            "body": {"query_vec": [round(x / norm, 6) for x in vec], "k": 10,
                     "mode": "pq"}}


def request_stream(seed: int, client: int, days: list[str]):
    """Endless seeded read-mix sequence for one client thread."""
    rng = random.Random(f"read:{seed}:{client}")
    i = client
    while True:
        yield read_request(rng, READ_CYCLE[i % len(READ_CYCLE)], days)
        i += 1


def warm_requests(seed: int, client: int, days: list[str]) -> list[dict]:
    """One request of every read route, for the untimed warm pass."""
    rng = random.Random(f"warm:{seed}:{client}")
    return [read_request(rng, route, days) for route in READ_ROUTES]


# ---------------------------------------------------------------------------
# api_ingest upstream batches
# ---------------------------------------------------------------------------

INGEST_START = dt.date(2024, 3, 1)
#: each batch spans this many days and starts BATCH_STEP days after the
#: previous one, so consecutive batches share half their days
BATCH_DAYS = 6
BATCH_STEP = 3

SOURCES = ["google", "facebook", "tiktok", "linkedin", "newsletter"]
MEDIUMS = ["cpc", "social", "email"]
STAGES = ["lead", "opportunity", "closed_won", "prospect"]
_SOURCE_CHANNEL = {"google": "google_ads", "facebook": "facebook_ads",
                   "tiktok": "tiktok_ads", "linkedin": "linkedin_ads"}


def _created_at(day: dt.date, i: int, rng: random.Random) -> str:
    """``day`` at a seeded time in one of the 8 accepted layouts, rotating
    by ``i``.  Times stay between 08:00 and 15:59 local with offsets of at
    most 7 h, so the UTC day is ``day`` in every layout."""
    h, m, s = rng.randrange(8, 16), rng.randrange(60), rng.randrange(60)
    d = day.isoformat()
    t = f"{h:02d}:{m:02d}:{s:02d}"
    layout = i % 8
    if layout == 0:
        return f"{d}T{t}Z"
    if layout == 1:
        return f"{d} {t}"
    if layout == 2:
        return d
    if layout == 3:
        return f"{d}T{t}+02:00"
    if layout == 4:
        return f"{d} {t} -0700"
    if layout == 5:
        return f"{d} {t} UTC"
    if layout == 6:
        return f"{d} {t}.{rng.randrange(1000):03d}"
    return f"{d.replace('-', '/')} {t}"


def batch_days(index: int) -> list[str]:
    return [(INGEST_START + dt.timedelta(days=index * BATCH_STEP + k)).isoformat()
            for k in range(BATCH_DAYS)]


def ingest_batch(seed: int, index: int, rows: int) -> dict:
    """Batch ``index`` of the upstream: ``rows`` ads rows and ``rows`` CRM
    rows over days [start + index*BATCH_STEP, + BATCH_DAYS).  Returns the
    two JSON envelopes as bytes, the consolidated-key count the engine
    must report as ``metrics_processed``, and the days touched."""
    rng = random.Random(f"ingest:{seed}:{index}")
    days = [dt.date.fromisoformat(d) for d in batch_days(index)]
    keys = set()
    ads = []
    for _ in range(rows):
        day = rng.choice(days).isoformat()
        src, med = rng.choice(SOURCES), rng.choice(MEDIUMS)
        camp = rng.choice(CAMPAIGNS)
        chan = _SOURCE_CHANNEL.get(src, f"{src}_{med}")
        cid = f"C-{rng.randrange(20):03d}"
        ads.append({"date": day, "campaign_id": cid, "channel": chan,
                    "clicks": rng.randrange(500), "impressions": rng.randrange(20000),
                    "cost": round(rng.uniform(1, 500), 2), "utm_campaign": camp,
                    "utm_source": src, "utm_medium": med})
        keys.add((day, chan, cid, camp, src, med))
    crm = []
    for i in range(rows):
        day = rng.choice(days)
        src, med = rng.choice(SOURCES), rng.choice(MEDIUMS)
        camp = rng.choice(CAMPAIGNS)
        crm.append({"opportunity_id": f"O-{seed}-{index}-{i}",
                    "contact_email": f"user{rng.randrange(10**6)}@example.com",
                    "stage": rng.choice(STAGES), "amount": round(rng.uniform(10, 5000), 2),
                    "created_at": _created_at(day, i, rng), "utm_campaign": camp,
                    "utm_source": src, "utm_medium": med})
        keys.add((day.isoformat(), _SOURCE_CHANNEL.get(src, f"{src}_{med}"), "",
                  camp, src, med))
    return {
        "ads": json.dumps({"external": {"ads": {"performance": ads}}}).encode(),
        "crm": json.dumps({"external": {"crm": {"opportunities": crm}}}).encode(),
        "expected_rows": len(keys),
        "days": batch_days(index),
        "source_rows": 2 * rows,
    }
