"""Seeded input generators for the four workloads.

Every generator draws from ``numpy.random.default_rng([seed, stream, ...])``,
so the same seed gives the same bytes and a workload can draw its i-th
request or batch without drawing the ones before it. The engine only ever
sees what these functions produce.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# The reference's demo data model (FIXTURES.md sections 1-3 and 6, BASELINE.md):
# 50 subjects, 2016-08-01 12:00 to 2016-08-14 23:59, heart rate and calories
# once a minute per subject jittered by up to 5 s, locations every 15 s on a
# walk of at most 10 km around USC, 8 states of residence, skewed.
SUBJECTS = 50
EPOCH = datetime(2016, 8, 1, 12, 0)
SPAN_MIN = 13 * 1440 + 720  # minute marks from 08-01 12:00 to 08-14 23:59
DAYS = 14                   # dt partitions 08-01 .. 08-14
JITTER_S = 5
STATES = ["CA", "NY", "TX", "WA", "AZ", "OR", "NV", "IL"]
STATE_P = [0.3, 0.15, 0.15, 0.1, 0.1, 0.1, 0.05, 0.05]
USC = (-118.2851, 34.0224)

# stream ids keep the workloads' random streams apart
_DASH, _REQ, _IMPORT, _STREAM, _CURATION = 1, 2, 3, 4, 5


def rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def content_hash(obj) -> str:
    """Short digest of generated inputs (frames, dicts, lists, scalars)."""
    h = hashlib.sha256()

    def feed(x):
        if isinstance(x, pd.DataFrame):
            h.update(pd.util.hash_pandas_object(x, index=False).values.tobytes())
            h.update(",".join(map(str, x.columns)).encode())
        elif isinstance(x, dict):
            for k in sorted(x):
                h.update(str(k).encode())
                feed(x[k])
        elif isinstance(x, (list, tuple)):
            for v in x:
                feed(v)
        else:
            h.update(json.dumps(x, sort_keys=True, default=str).encode())

    feed(obj)
    return h.hexdigest()[:16]


def write_parquet(df: pd.DataFrame, path: str) -> int:
    """Write with µs timestamps (the engine's storage unit); returns bytes."""
    table = pa.Table.from_pandas(df, preserve_index=False)
    table = table.cast(pa.schema([
        pa.field(f.name, pa.timestamp("us")) if pa.types.is_timestamp(f.type) else f
        for f in table.schema
    ]))
    pq.write_table(table, path)
    return os.path.getsize(path)


# --------------------------------------------------------------------------
# dashboard
# --------------------------------------------------------------------------

# Scaled down from the reference, measured on a 4-vCPU VM: with all 50
# subjects and 15 s locations (886k heart-rate and 3.5M location rows) one
# run took 75 s (set-up 52 s, 8 requests 15 s, peak RSS 3.3 GB), and
# with locations at 1/min still 59 s, with 12 subjects 44-54 s and with 8
# about 43 s, while the benchmark's 92 runs must fit in 3420 s. So the
# dashboard keeps the span and the 1/min cadence but stages 6 subjects,
# with one location at each heart-rate timestamp.
DASH_SUBJECTS = 6
LOC_PER_MIN = 1


def minute_readings(r: np.random.Generator, n_users: int, minutes: int) -> np.ndarray:
    """Seconds since EPOCH of one reading a minute per subject, each
    jittered by up to JITTER_S (shape users x minutes, rising per user)."""
    secs = np.arange(minutes)[None, :] * 60 + r.integers(
        -JITTER_S, JITTER_S + 1, (n_users, minutes))
    return np.clip(secs, 0, minutes * 60 - 1)


def _gaps(r: np.random.Generator, n_users: int) -> np.ndarray:
    """Per subject two gaps over 12 h and one of about 3 h (FIXTURES.md
    section 2); True where a reading survives."""
    keep = np.ones((n_users, SPAN_MIN), dtype=bool)
    for u in range(n_users):
        for length in (int(r.integers(750, 840)), int(r.integers(750, 840)), 180):
            s0 = int(r.integers(0, SPAN_MIN - length))
            keep[u, s0:s0 + length] = False
    return keep


def dashboard_tables(seed: int) -> dict[str, pd.DataFrame]:
    """GeoMTS tables: users, heart_rates, calories, locations, plus the
    geofence polygons the map view joins against."""
    r = rng(seed, _DASH)
    n = DASH_SUBJECTS
    uid = np.array([f"u{i:04d}" for i in range(1, n + 1)])
    age = r.integers(18, 86, n).astype("float")
    age[r.random(n) < 0.1] = np.nan
    weight = np.round(r.normal(75, 15, n), 1)
    weight[r.random(n) < 0.1] = np.nan
    state = r.choice(STATES, n, p=STATE_P).astype(object)
    state[r.random(n) < 0.1] = None
    users = pd.DataFrame({
        "user_id": uid,
        "age": pd.array(age, dtype="Int32"),
        "weight": weight,
        "state_of_residence": state,
    })

    secs = minute_readings(r, n, SPAN_MIN)
    keep = _gaps(r, n)
    u_col = np.repeat(uid, SPAN_MIN).reshape(n, SPAN_MIN)[keep]
    ts = (pd.to_datetime(EPOCH) + pd.to_timedelta(secs[keep], unit="s")).values
    hr = np.clip(r.normal(75, 12, (n, SPAN_MIN)), 40, 190)
    excursion = r.random((n, SPAN_MIN)) < 0.02  # beyond mean +- 2 sd
    hr = np.where(excursion, hr + r.choice([-1, 1], (n, SPAN_MIN)) * 30, hr)
    heart = pd.DataFrame({"user_id": u_col, "timestamp": ts,
                          "value": np.round(np.clip(hr, 40, 190), 3)[keep]})
    cal = pd.DataFrame({"user_id": u_col, "timestamp": ts,
                        "value": np.round(r.exponential(2.0, (n, SPAN_MIN)), 3)[keep]})

    # locations: LOC_PER_MIN points per heart-rate minute, on a smooth
    # bounded walk (a sum of slow sinusoids, at most ~10 km from USC)
    loc_secs = (secs[keep][:, None] + np.arange(LOC_PER_MIN) * (60 // LOC_PER_MIN)).ravel()
    loc_user = np.repeat(np.repeat(np.arange(n), SPAN_MIN).reshape(n, SPAN_MIN)[keep],
                         LOC_PER_MIN)
    t = loc_secs / 86400.0
    lon = np.full(len(t), USC[0])
    lat = np.full(len(t), USC[1])
    for _ in range(3):
        w = r.uniform(1, 12, n)[loc_user]
        lon += r.uniform(0.005, 0.025, n)[loc_user] * np.sin(w * t + r.uniform(0, 6.3, n)[loc_user])
        lat += r.uniform(0.005, 0.025, n)[loc_user] * np.cos(w * t + r.uniform(0, 6.3, n)[loc_user])
    loc = pd.DataFrame({
        "user_id": uid[loc_user],
        "timestamp": pd.to_datetime(EPOCH) + pd.to_timedelta(loc_secs, unit="s"),
        "lon": np.round(lon, 6),
        "lat": np.round(lat, 6),
    })
    polys = []
    for pid in range(6):
        cx, cy = USC[0] + r.uniform(-0.06, 0.06), USC[1] + r.uniform(-0.06, 0.06)
        ang = np.sort(r.uniform(0, 2 * np.pi, 7))
        rad = r.uniform(0.01, 0.03, 7)
        polys.append({
            "polygon_id": pid,
            "ring": [{"lon": round(float(cx + a * np.cos(t)), 6),
                      "lat": round(float(cy + a * np.sin(t)), 6)}
                     for a, t in zip(rad, ang)],
        })
    return {"users": users, "heart_rates": heart, "calories": cal,
            "locations": loc, "polygons": polys}


KINDS = ("kpi", "safeband", "timeseries", "geo")


def dashboard_request(seed: int, i: int, users: pd.DataFrame) -> dict:
    """The i-th analyst request. Kinds cycle; within a cycle every other
    request reads one day (partition-pruned) and the rest the full span, and
    the next cycle swaps the two, so every run has the same mix; the cohort,
    day, panel and band width are fresh seeded literals each time. A cohort
    is drawn around one subject of ``users`` (an age window and a few states
    around theirs), so it is never empty but its size varies."""
    r = rng(seed, _REQ, i)
    pivot = users.iloc[int(r.integers(0, len(users)))]
    age = int(pivot["age"]) if not pd.isna(pivot["age"]) else int(r.integers(18, 86))
    half = int(r.integers(3, 21))
    others = [x for x in STATES if x != pivot["state_of_residence"]]
    states = r.choice(others, int(r.integers(0, 3)), replace=False).tolist()
    if pivot["state_of_residence"] is not None:
        states.append(pivot["state_of_residence"])
    day = EPOCH + timedelta(days=int(r.integers(0, DAYS)))
    if (i + i // len(KINDS)) % 2 == 0:
        start = end = day.date()
    else:
        start, end = EPOCH.date(), (EPOCH + timedelta(days=DAYS - 1)).date()
    return {
        "i": i,
        "kind": KINDS[i % len(KINDS)],
        "span": "day" if start == end else "full",
        "age": (age - half, age + half),
        "states": sorted(states) or [str(r.choice(STATES))],
        "start": start.isoformat(),
        "end": end.isoformat(),
        "panel_users": sorted(
            f"u{j:04d}" for j in r.choice(np.arange(1, DASH_SUBJECTS + 1), 3, replace=False)),
        "k": float(np.round(r.uniform(1.5, 3.0), 2)),
    }


# --------------------------------------------------------------------------
# import
# --------------------------------------------------------------------------

IMPORT_BATCH_USERS = 2  # one upload: a day of 1/min readings for 2 subjects
IMPORT_DUP_SHARE = 0.01
IMPORT_FIX_SHARE = 0.1
HEADER_VARIANTS = {
    "user_id": ["Patient Email", "participant_email", "Patient E-mail", "patient email address"],
    "timestamp": ["Start_Time", "start time", "Timestamp Start", "Start Date Time"],
    "heart_rates": ["Heart Rate (bpm)", "heart_rate_bpm", "HR heart rate bpm", "Heart-Rate"],
    "calories": ["calorie_burn", "Calories Burned", "kcal calorie burn", "calorie burn (kcal)"],
}
EXTRA_COLUMNS = ["junk_col", "Device Model"]
IMPORT_TARGETS = {
    "user_id": "patient email",
    "timestamp": "start time timestamp date",
    "heart_rates": "heart rate bpm",
    "calories": "calorie burn",
}


def import_batch(seed: int, p: int, i: int, history: pd.DataFrame | None,
                 n_users: int = IMPORT_BATCH_USERS) -> tuple[pd.DataFrame, dict]:
    """Upload i of pass p, wide and with messy headers (FIXTURES.md
    section 4).

    Rows are one day's readings (day i + 1 of the span, so upload i opens
    partition i) for ``n_users`` of the 50 subjects, once a minute
    with up to 5 s of jitter; a 1% share of exact duplicate readings; and
    corrections: a 10% share of earlier (user, timestamp) keys, all from
    ONE earlier day drawn from ``history`` (canonical rows imported so far),
    with new values. Other earlier days stay untouched, so their partitions
    are carried over by the manifest. Returns the upload (vendor headers)
    and its canonical-name mapping."""
    r = rng(seed, _IMPORT, p, i)
    users = np.sort(r.choice(np.arange(1, SUBJECTS + 1), n_users, replace=False))
    day0 = (i + 1) * 86400 - 12 * 3600  # EPOCH is noon on the first day
    secs = (day0 + minute_readings(r, len(users), 1440)).ravel()
    new = pd.DataFrame({
        "user_id": np.repeat([f"user{u:04d}@example.org" for u in users], 1440),
        "timestamp": pd.to_datetime(EPOCH) + pd.to_timedelta(secs, unit="s"),
        "heart_rates": np.round(np.clip(r.normal(75, 12, len(secs)), 40, 190), 2),
        "calories": np.round(r.exponential(2.0, len(secs)), 3),
    })
    n_dup = int(len(new) * IMPORT_DUP_SHARE)
    parts = [new, new.iloc[r.choice(len(new), n_dup, replace=False)]]
    if history is not None and len(history):
        days = history["timestamp"].dt.normalize()
        day = np.sort(days.unique())[int(r.integers(0, days.nunique()))]
        pool = history[days == day]
        fix = pool.iloc[r.choice(len(pool), min(len(pool), int(len(new) * IMPORT_FIX_SHARE)),
                                 replace=False)].copy()
        fix["heart_rates"] = np.round(fix["heart_rates"] + r.normal(0, 3, len(fix)), 2)
        fix["calories"] = np.round(fix["calories"] * r.uniform(0.8, 1.2, len(fix)), 3)
        parts.append(fix)
    canon = pd.concat(parts, ignore_index=True)
    canon = canon.iloc[r.permutation(len(canon))].reset_index(drop=True)
    header = {c: HEADER_VARIANTS[c][int(r.integers(0, 4))] for c in HEADER_VARIANTS}
    wide = canon.rename(columns=header)
    for c in EXTRA_COLUMNS:
        wide[c] = r.choice(["a1", "b2", "c3"], len(wide))
    wide = wide[list(r.permutation(wide.columns))]
    wide[header["timestamp"]] = wide[header["timestamp"]].dt.strftime("%Y-%m-%d %H:%M:%S")
    return wide, header


def canonical(wide: pd.DataFrame, header: dict) -> pd.DataFrame:
    """An upload back under canonical names, with parsed timestamps."""
    out = wide.rename(columns={v: k for k, v in header.items()})[list(IMPORT_TARGETS)]
    return out.assign(timestamp=pd.to_datetime(out["timestamp"]))


# --------------------------------------------------------------------------
# stream
# --------------------------------------------------------------------------

STREAM_MINUTES = 60          # one hour of heart rates (FIXTURES.md section 6)
STREAM_LATE_SHARE = 0.1
STREAM_MAX_LATE_TICKS = 8    # under 80 s of event time, inside the 2-minute watermark


@functools.lru_cache(maxsize=4)
def stream_hour(seed: int) -> list[pd.DataFrame]:
    """The replay source, split into the files the generator drops.

    One hour of heart rates for the 50 subjects, once a minute with up to
    5 s of jitter, replayed with the reference's ``BATCH = 1``: tick k
    carries every reading at the k-th distinct timestamp. A seeded 10%
    share of readings arrives late, 1 to 8 ticks after its own."""
    r = rng(seed, _STREAM)
    secs = minute_readings(r, SUBJECTS, STREAM_MINUTES)
    user = np.repeat(np.arange(1, SUBJECTS + 1), STREAM_MINUTES)
    secs = secs.ravel()
    stamps, tick = np.unique(secs, return_inverse=True)
    late = r.random(len(secs)) < STREAM_LATE_SHARE
    # no tick may lose all its readings: an emptied tick keeps its first one
    on_time = np.bincount(tick[~late], minlength=len(stamps))
    _, first = np.unique(tick, return_index=True)
    late[first[on_time == 0]] = False
    tick = np.where(late, np.minimum(len(stamps) - 1,
                                     tick + r.integers(1, STREAM_MAX_LATE_TICKS + 1, len(secs))),
                    tick)
    ev = pd.DataFrame({
        "user_id": user.astype("int64"),
        "ts": pd.to_datetime(EPOCH) + pd.to_timedelta(secs, unit="s"),
        "value": np.round(np.clip(r.normal(75, 12, len(secs)), 40, 190), 3),
    })
    order = np.argsort(tick, kind="stable")
    bounds = np.searchsorted(tick[order], np.arange(len(stamps) + 1))
    return [ev.iloc[order[bounds[k]:bounds[k + 1]]].reset_index(drop=True)
            for k in range(len(stamps))]


# --------------------------------------------------------------------------
# curation
# --------------------------------------------------------------------------

# The testdata documents table holds 500 documents at sf0.001 and sf0.01. At
# 500 one run took 49 s on a 4-vCPU VM (set-up 27 s, one pass 13.6 s, and
# 9.5 s of DuckDB oracles, 8.7 s of it in the two connected-components
# ones, which grow quadratically); half that corpus fits the run budget.
CURATION_DOCS = 250
CURATION_CLUSTERS = 10  # near-dup clusters of 2, 3, 4, 5 members in turn
_STOP = ["the", "and", "of", "to", "a", "in", "is", "that", "with", "for", "on", "as"]
_EN = ("spark data window stream table query join filter value key row batch "
       "merge sort group scan partition shuffle cache index model train token "
       "vector column metric sensor heart rate user cohort signal latency "
       "storage engine plan stage task driver executor memory disk network "
       "record event time series trend band alert report dashboard import").split()
_DE = "und der die das ist nicht mit auf für sich auch noch nach wird über".split()
_FR = "le la les des est une pour dans par sur avec plus sont comme mais".split()


def curation_documents(seed: int) -> pd.DataFrame:
    """documents.parquet in the testdata schema: a language and length mix
    with a fixed number of planted near-duplicate clusters (2-5 members, a
    few words edited; the 4- and 5-member ones hold one exact copy), so the
    dedup work per run does not swing with the seed."""
    r = rng(seed, _CURATION)

    def doc() -> tuple[str, str]:
        lang = str(r.choice(["en", "de", "fr"], p=[0.7, 0.15, 0.15]))
        vocab = _EN + _STOP + ({"de": _DE, "fr": _FR}.get(lang, []) * 3)
        n = int(np.clip(r.lognormal(4.3, 0.7), 8, 600))
        words = r.choice(vocab, n).tolist()
        lines = []
        for j in range(0, n, 12):
            line = " ".join(words[j:j + 12])
            roll = r.random()
            if roll < 0.08:
                line = "- " + line
            elif roll < 0.12:
                line = line + " ..."
            elif roll < 0.15:
                line = line + " #" + str(int(r.integers(0, 99)))
            lines.append(line)
        return lang, "\n".join(lines)

    rows: list[tuple[str, str]] = []
    for c in range(CURATION_CLUSTERS):
        lang, t = doc()
        rows.append((lang, t))
        size = 2 + c % 4
        for m in range(1, size):
            if size >= 4 and m == 1:
                rows.append((lang, t))
                continue
            w = t.split(" ")
            for j in r.choice(len(w), max(1, len(w) // 25), replace=False):
                w[j] = str(r.choice(_EN))
            rows.append((lang, " ".join(w)))
    while len(rows) < CURATION_DOCS:
        rows.append(doc())
    rows = [rows[j] for j in r.permutation(len(rows))]
    texts = [t for _, t in rows]
    return pd.DataFrame({
        "doc_id": np.arange(len(rows), dtype="int64"),
        "text": texts,
        "lang": [lang for lang, _ in rows],
        "source": [f"src{int(x)}" for x in r.integers(0, 8, len(rows))],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
