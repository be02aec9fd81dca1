"""Seeded input generators for the benchmark workloads.

Every drop follows the reference's raw-data convention: one parquet file per
(event type, hour), named `<type>_processed_dk_<yyyyMMddHHmmss><ms>_<lo>-<hi>_0.parquet`
so the filename carries the event time, with the full nested event schema
(the shape of the test fixtures' `fullFidelityDf`). About 30% of rows carry a
decoy user agent, some of them near misses of the real one, so the nested
filter has real work to do.

Each generated drop comes with a manifest (`manifest.tsv`) listing, per file,
the drop it belongs to, its event type, date, hour and how many rows match
the pipeline's user agent. The harness derives every expected report from
the manifest alone.
"""

import datetime as dt
import os
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

USER_AGENT = "some user agent"
DECOYS = ["other agent", "Some User Agent", "some user agent ", "Mozilla/5.0 (X11; Linux x86_64)"]
DECOY_SHARE = 0.3

# etl-ticks: a reference-shaped cron drop (the reference ships 11 files x 7 rows)
TICK_FILES = 12
TICK_ROWS = 7
# etl-bulk: a catch-up drop over two dates, one file per (type, date, hour)
BULK_DATES = 2
BULK_ROWS_PER_FILE = 16_000
BULK_MISSING_HOURS = 3  # hours per (type, date) with no file: the dense report zero-fills them


def _concat(prefix, values):
    return pc.binary_join_element_wise(pa.scalar(prefix), pc.cast(values, pa.string()), "")


def event_table(event_type, first_id, user_agents):
    """Full nested event rows; values are functions of the interaction id."""
    n = len(user_agents)
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    aid = pa.array(ids)
    const = lambda v, t=None: pa.repeat(pa.scalar(v, type=t), n)

    def struct(**fields):
        return pa.StructArray.from_arrays(list(fields.values()), list(fields.keys()))

    def list_of(values, typ):
        offsets = pa.array(np.arange(0, (n + 1) * len(values), len(values), dtype=np.int32))
        flat = pc.take(pa.array(values, type=typ), pa.array(np.tile(np.arange(len(values)), n)))
        return pa.ListArray.from_arrays(offsets, flat)

    polygon_offsets = pa.array(np.arange(0, 2 * n + 1, 2, dtype=np.int32))
    polygon = pa.ListArray.from_arrays(
        polygon_offsets,
        struct(
            latitude=pa.array(np.tile(np.array([55.6761, 55.7], dtype=np.float32), n)),
            longitude=pa.array(np.tile(np.array([12.5683, 12.6], dtype=np.float32), n)),
        ),
    )
    columns = {
        "transaction_header": struct(
            transaction_id=struct(lo=aid, hi=pa.array(ids * 7919)),
            creation_time=pa.array(1653590000000 + ids),
            producer_time=pa.array(1653590000100 + ids),
            original_producer=const("producer-a"),
            recent_producer=const("producer-b"),
        ),
        "user_identity": struct(
            cookie_id=_concat("cookie_", aid),
            is_opted_out=pa.array(ids % 13 == 0),
            cookie_id_origin_id=pa.array(ids % 100),
            browser_cookie_id=_concat("bc_", pa.array(ids * 31)),
            browser_cookie_status=const("Enabled"),
            providers=struct(
                browser=struct(id=_concat("br_", aid), version=const("104.0")),
                device=struct(id=_concat("dev_", pa.array(ids % 50)), vendor=const("vendor-x")),
            ),
        ),
        "fraud_detection": struct(
            fraud_reason_ids=pa.ListArray.from_arrays(
                pa.array(np.arange(0, 2 * n + 1, 2, dtype=np.int32)),
                pa.array(np.stack([ids % 3, np.full(n, 7)], axis=1).reshape(-1).astype(np.int32)),
            ),
            is_fraud=const(False),
        ),
        "geo_location": struct(country=const("DK"), polygon=polygon),
        "device_settings": struct(
            user_agent=user_agents,
            screen_size=struct(width=const(1920, pa.int32()), height=const(1080, pa.int32())),
            language_codes=list_of(["en", "dk"], pa.string()),
        ),
        "connection": struct(ip=const("10.0.0.1"), connection_type=const("wifi")),
        "banner": struct(
            banner_id=pa.array(ids % 1000 + 10000),
            campaign_id=pa.array(ids % 100 + 1000),
            media_id=pa.array(ids % 10 + 100),
            tag_id=pa.array(ids % 7),
            banner_placement_id=pa.array(ids % 5),
        ),
        "rtb_vars": struct(
            winning_price_in_dkk=struct(
                lo=pa.array(ids * 100 + 50), hi=const(0, pa.int32()), signScale=const(4, pa.int32())
            ),
            currency_code=const("DKK"),
        ),
        "interaction_id": aid,
        "page_url": _concat("https://example.test/page/", aid),
    }
    if event_type == "impressions":
        columns["shown_in_non_friendly_iframe"] = pa.array(ids % 11 == 0)
        columns["output_type"] = const("html5")
        columns["detected_device_type"] = const("desktop")
    else:
        columns["landing_url"] = _concat("https://landing.test/", aid)
        columns["banner_click_url_id"] = pa.array(ids % 17)
        columns["keywords"] = list_of(["kw1", "kw2"], pa.string())
        columns["server_impression_time_ms"] = pa.array(1653590000200 + ids)
    return pa.table(columns)


def user_agents(rng, n):
    decoy = rng.random(n) < DECOY_SHARE
    picks = rng.integers(0, len(DECOYS), n)
    agents = pc.take(pa.array([USER_AGENT] + DECOYS), pa.array(np.where(decoy, picks + 1, 0)))
    return agents, int(n - decoy.sum())


def file_name(event_type, day, hour, minute, second, lo):
    stamp = f"{day:%Y%m%d}{hour:02d}{minute:02d}{second:02d}{lo % 1000:03d}"
    return f"{event_type}_processed_dk_{stamp}_{lo}-{lo + 6}_0.parquet"


class Drop:
    """Writes the files of one drop and collects their manifest rows. Random
    draws happen in call order, so the files do not depend on the writer
    threads' timing."""

    def __init__(self, root, drop_id, next_id, writers):
        self.dir = os.path.join(root, drop_id)
        self.drop_id = drop_id
        self.next_id = next_id
        self.rows = []
        self.writers = writers
        self.pending = []
        os.makedirs(self.dir, exist_ok=True)

    def add(self, rng, event_type, day, hour, n, name_hour=None):
        agents, matched = user_agents(rng, n)
        minute, second = int(rng.integers(0, 60)), int(rng.integers(0, 60))
        lo = self.next_id
        name = file_name(event_type, day, hour if name_hour is None else name_hour, minute, second, lo)
        path = os.path.join(self.dir, name)
        self.pending.append(self.writers.submit(lambda: pq.write_table(event_table(event_type, lo, agents), path)))
        self.next_id += n
        # an hour outside 0-23 in the name is counted out by the rollup
        valid_hour = hour if name_hour is None else -1
        self.rows.append((self.drop_id, name, event_type, day.isoformat(), valid_hour, matched, n - matched))

    def finish(self):
        for f in self.pending:
            f.result()
        return self.rows


def base_day(seed):
    return dt.date(2022, 5, 1) + dt.timedelta(days=seed % 200)


def gen_ticks(root, seed, n_drops, writers):
    """Drop k covers days k and k+1, so each tick re-delivers the day the
    previous tick loaded (archive, range delete and quarantine upsert run)."""
    rng = np.random.default_rng(seed)
    manifest, next_id = [], 1
    start = base_day(seed)
    for k in range(n_drops):
        drop = Drop(root, f"tick{k:03d}", next_id, writers)
        days = [start + dt.timedelta(days=k), start + dt.timedelta(days=k + 1)]
        for i in range(TICK_FILES):
            event_type = "impressions" if rng.random() < 0.5 else "clicks"
            drop.add(rng, event_type, days[i % 2], int(rng.integers(0, 24)), TICK_ROWS)
        manifest += drop.finish()
        next_id = drop.next_id
    return manifest


def gen_bulk(root, seed, writers):
    """The bulk drop: one file per (type, date, hour) minus a few missing
    hours, plus one file per (type, date) whose name carries an invalid hour."""
    rng = np.random.default_rng(seed)
    bulk = Drop(root, "bulk", 1, writers)
    for d in range(BULK_DATES):
        day = base_day(seed) + dt.timedelta(days=d)
        for event_type in ("impressions", "clicks"):
            missing = set(rng.choice(24, BULK_MISSING_HOURS, replace=False).tolist())
            for hour in range(24):
                if hour not in missing:
                    bulk.add(rng, event_type, day, hour, BULK_ROWS_PER_FILE)
            bulk.add(rng, event_type, day, 0, BULK_ROWS_PER_FILE // 10, name_hour=25)
    return bulk.finish()


def generate(workload, seed, root, n_drops):
    os.makedirs(root, exist_ok=True)
    with ThreadPoolExecutor(max_workers=4) as writers:
        if workload == "etl-ticks":
            manifest = gen_ticks(root, seed, n_drops, writers)
        elif workload == "etl-bulk":
            manifest = gen_bulk(root, seed, writers)
        else:
            raise ValueError(f"unknown workload {workload}")
    with open(os.path.join(root, "manifest.tsv"), "w") as f:
        for row in manifest:
            f.write("\t".join(str(v) for v in row) + "\n")
