"""Seeded GHArchive-shaped bronze generator for the medallion benchmark.

The generator turns the rows of an `events.parquet` table into hourly
`.json.gz` files shaped like real GHArchive dumps:

* each line carries `id`, `type`, `actor{id,login,display_login,...}`,
  `repo{id,name,url}`, `created_at` and a `payload` of about 1 KB that the
  program's pinned schema skips;
* repo keys follow a Zipf law over a large repo universe, so a few repos are
  hot and most appear once;
* some lines are malformed on purpose: truncated objects and non-JSON lines;
* hours larger than the base table reuse its rows as disjoint replicas
  (the decade-probe scheme of the repo's scale probes: replica r offsets
  `event_id` by r * 1e8 and `user_id` by r * 1e7).

Besides the files it returns the expected valid-line count of every hour and
the expected gold table (one count per event type, repo and day), computed
here without Spark. The same seed always gives the same bytes.
"""
import datetime
import functools
import hashlib
import json
import os
import zlib
from collections import Counter
from concurrent.futures import ProcessPoolExecutor

import duckdb
import numpy as np

# Per-workload input shape. Hours are numbered from START_DAY 00:00.
SHAPES = {
    "cron_hourly": {"days": 3, "hours_per_day": 10, "events_per_hour": 2_000},
    "backfill_day": {"days": 1, "hours_per_day": 4, "events_per_hour": 50_000},
}
START_DAY = (2024, 1, 1)
REPO_UNIVERSE = 1_000_000
ZIPF_EXPONENT = 1.05
TRUNCATED_RATE = 0.002
NON_JSON_RATE = 0.001
GZIP_LEVEL = 6
EVENT_ID_STRIDE = 100_000_000
USER_ID_STRIDE = 10_000_000

# The base table's event types mapped onto GHArchive event types.
TYPE_MAP = {
    "signup": "CreateEvent",
    "click": "WatchEvent",
    "error": "IssuesEvent",
    "view": "ForkEvent",
    "purchase": "PushEvent",
}


def load_base(events_parquet):
    """Columns of the base table, in event_id order, as numpy arrays."""
    con = duckdb.connect()
    rows = con.execute(
        "SELECT event_id, user_id, event_type, minute(ts) AS mi, second(ts) AS se "
        f"FROM read_parquet('{events_parquet}') ORDER BY event_id"
    ).fetchnumpy()
    con.close()
    return {
        "event_id": rows["event_id"].astype(np.int64),
        "user_id": rows["user_id"].astype(np.int64),
        "type": np.array([TYPE_MAP[t] for t in rows["event_type"]], dtype=object),
        "minute": rows["mi"].astype(np.int64),
        "second": rows["se"].astype(np.int64),
    }


def hour_label(k, hours_per_day):
    """(day 'YYYY-MM-DD', hour) of global hour index k."""
    day = datetime.date(*START_DAY) + datetime.timedelta(days=k // hours_per_day)
    return day.isoformat(), k % hours_per_day


def source_name(day, hour):
    """File name the GHArchive server uses: hour without a leading zero."""
    return f"{day}-{hour}.json.gz"


def _vocabulary(rng, size=4096):
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    lengths = rng.integers(3, 11, size)
    return [bytes(letters[rng.integers(0, 26, n)]).decode() for n in lengths]


def _text_pool(rng, vocab, n_words=400_000):
    # word frequencies fall off like natural text (Zipf, exponent 1)
    weights = 1.0 / np.arange(1, len(vocab) + 1)
    picks = rng.choice(len(vocab), n_words, p=weights / weights.sum())
    return " ".join(vocab[i] for i in picks)


@functools.lru_cache(maxsize=1)
def _zipf_cdf():
    w = 1.0 / np.arange(1, REPO_UNIVERSE + 1, dtype=np.float64) ** ZIPF_EXPONENT
    cdf = np.cumsum(w)
    return cdf / cdf[-1]


def repo_name(repo_id):
    return f"org{repo_id % 7919}/proj{repo_id}"


@functools.lru_cache(maxsize=2)
def _seeded_pool(seed):
    """(text pool, repo-id multiplier) shared by every hour of a seed."""
    rng = np.random.default_rng([seed, 1 << 30])
    pool = _text_pool(rng, _vocabulary(rng))
    return pool, int(rng.integers(1, REPO_UNIVERSE // 2)) * 2 + 1


_BASE = {}


def _init_worker(events_parquet):
    _BASE["rows"] = load_base(events_parquet)


def _gen_hour(task):
    """Write one hour's file; return its manifest entry and gold counts."""
    seed, k, shape, out_dir = task
    base = _BASE["rows"]
    n = shape["events_per_hour"]
    day, hour = hour_label(k, shape["hours_per_day"])
    rng = np.random.default_rng([seed, k])
    pool, mult = _seeded_pool(seed)
    # repo rank -> repo id through a seeded affine map, so hot repos are
    # scattered over the id space instead of being ids 1, 2, 3...
    ranks = np.searchsorted(_zipf_cdf(), rng.random(n))
    repo_ids = (ranks.astype(np.int64) * mult + 12345) % (REPO_UNIVERSE * 10) + 1

    b = len(base["event_id"])
    pos = np.arange(k * n, (k + 1) * n, dtype=np.int64)
    row, replica = pos % b, pos // b
    event_ids = base["event_id"][row] + replica * EVENT_ID_STRIDE
    user_ids = base["user_id"][row] + replica * USER_ID_STRIDE
    types = base["type"][row]
    minutes, seconds = base["minute"][row], base["second"][row]

    shas = rng.bytes(20 * 2 * n).hex()
    msg_len = rng.integers(300, 600, n)
    msg_at = rng.integers(0, len(pool) - 800, n)
    push_ids = rng.integers(10**9, 10**10, n)
    fate = rng.random(n)
    cut_at = rng.uniform(0.2, 0.8, n)

    lines = []
    gold = Counter()
    valid = 0
    for j in range(n):
        eid, uid, rid = int(event_ids[j]), int(user_ids[j]), int(repo_ids[j])
        typ = types[j]
        login = f"user{uid}"
        name = repo_name(rid)
        rurl = f"https://api.github.com/repos/{name}"
        head, before = shas[80 * j:80 * j + 40], shas[80 * j + 40:80 * (j + 1)]
        m0 = int(msg_at[j])
        msg = pool[m0:m0 + int(msg_len[j])]
        created = f"{day}T{hour:02d}:{int(minutes[j]):02d}:{int(seconds[j]):02d}Z"
        line = (
            f'{{"id":{eid},"type":"{typ}","actor":{{"id":{uid},"login":"{login}",'
            f'"display_login":"{login}","gravatar_id":"",'
            f'"url":"https://api.github.com/users/{login}",'
            f'"avatar_url":"https://avatars.githubusercontent.com/u/{uid}?"}},'
            f'"repo":{{"id":{rid},"name":"{name}","url":"{rurl}"}},'
            f'"payload":{{"push_id":{int(push_ids[j])},"size":1,"distinct_size":1,'
            f'"ref":"refs/heads/main","head":"{head}","before":"{before}",'
            f'"commits":[{{"sha":"{head}","author":{{"email":"{login}@users.noreply.github.com",'
            f'"name":"{login}"}},"message":"{msg}","distinct":true,'
            f'"url":"{rurl}/commits/{head}"}}]}},'
            f'"public":true,"created_at":"{created}"}}'
        )
        f = fate[j]
        if f < TRUNCATED_RATE:
            line = line[: int(len(line) * cut_at[j])]
        elif f < TRUNCATED_RATE + NON_JSON_RATE:
            line = f"<html><body>502 Bad Gateway {seed}-{k}-{j}</body></html>"
        else:
            valid += 1
            gold[(typ, rid, name, rurl, day)] += 1
        lines.append(line)

    raw = ("\n".join(lines) + "\n").encode()
    packed = zlib.compressobj(GZIP_LEVEL, zlib.DEFLATED, 31)  # gzip, mtime 0
    data = packed.compress(raw) + packed.flush()
    fname = source_name(day, hour)
    with open(os.path.join(out_dir, fname), "wb") as fh:
        fh.write(data)
    entry = {
        "file": fname,
        "day": day,
        "hour": hour,
        "lines": n,
        "valid": valid,
        "bytes": len(data),
        "raw_bytes": len(raw),
        "sha256": hashlib.sha256(data).hexdigest(),
    }
    return entry, gold


def generate(workload, seed, out_dir, events_parquet, procs=4, shape=None):
    """Write the workload's bronze files into out_dir.

    Returns (manifest, gold): manifest lists every file in hour order with
    its line, valid-line and byte counts; gold maps
    (event_type, repo_id, repo_name, repo_url, day) to the expected count.
    """
    shape = shape or SHAPES[workload]
    os.makedirs(out_dir, exist_ok=True)
    hours = shape["days"] * shape["hours_per_day"]
    tasks = [(seed, k, shape, out_dir) for k in range(hours)]
    with ProcessPoolExecutor(max_workers=max(1, min(procs, hours)),
                             initializer=_init_worker,
                             initargs=(events_parquet,)) as ex:
        results = list(ex.map(_gen_hour, tasks))
    gold = Counter()
    for _, g in results:
        gold.update(g)
    files = [e for e, _ in results]
    manifest = {
        "workload": workload,
        "seed": seed,
        "shape": shape,
        "files": files,
        "events": sum(e["lines"] for e in files),
        "valid_events": sum(e["valid"] for e in files),
        "bytes": sum(e["bytes"] for e in files),
        "raw_bytes": sum(e["raw_bytes"] for e in files),
        "gold_rows": len(gold),
        "gold_sha256": gold_digest(gold),
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1)
    return manifest, gold


def gold_digest(gold):
    """Order-independent digest of a gold table."""
    h = hashlib.sha256()
    for key in sorted(gold):
        h.update(json.dumps([*key, gold[key]]).encode())
    return h.hexdigest()


if __name__ == "__main__":
    import argparse
    import time

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("workload", choices=sorted(SHAPES))
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--events", required=True, help="path to events.parquet")
    a = ap.parse_args()
    t = time.time()
    m, g = generate(a.workload, a.seed, a.out_dir, a.events)
    print(json.dumps({k: v for k, v in m.items() if k != "files"}),
          f"ratio={m['raw_bytes'] / m['bytes']:.2f}", f"{time.time() - t:.2f}s")
