"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of (seed, size): the same seed writes
byte-identical inputs, and every expected result is computed here, by the
generator, never by Spark.

- `star_schema`: the TPC-H-ish star schema + `events`/`documents`/
  `embeddings` that `SparkEntry.queries` reads (same table names, column
  names, parquet types and value domains as the gate's testdata).
- `iot_backlog`: a backlog of JSONL sensor files with a seeded share of
  malformed, non-object, temperature-less and out-of-range lines, plus
  the expected-result manifest.
- `stream_slice`: a contiguous event-time slice of events cut into fixed
  micro-batches, with within-batch jitter and re-delivered duplicates.
"""
import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
ORDER_EPOCH_DAY = 9131         # 1995-01-01
ORDER_DAYS = 2404              # ... 2001-08-01
EVENT_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = ("a agg batch big column customer data dup fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream table "
         "the value vector window").split()


def _ts(us):
    return pa.array(np.asarray(us, dtype=np.int64), pa.timestamp("us"))


def _write(path, cols):
    pq.write_table(pa.table(cols), path, compression="snappy")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def star_schema(out, seed, sf):
    """Write the ten gate tables for scale factor `sf` into `out`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust = max(int(150_000 * sf), 150)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 200)
    n_ord = max(int(1_500_000 * sf), 1500)
    n_li = max(int(6_000_000 * sf), 6000)
    n_ev = max(int(1_000_000 * sf), 1000)
    n_users = max(int(15_000 * sf), 15)
    n_docs = max(int(50_000 * sf), 500)
    n_emb = max(int(20_000 * sf), 500)

    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(f"{out}/customer.parquet", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = np.array("blue cold hot large new old red small".split())
    noun = np.array("anvil bolt gear gizmo plate ring rod widget".split())
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part)
    _write(f"{out}/part.parquet", {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    _write(f"{out}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts((ORDER_EPOCH_DAY + rng.integers(0, ORDER_DAYS, n_ord)) * DAY_US),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_ord)]})
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts((ORDER_EPOCH_DAY + 1 + rng.integers(0, ORDER_DAYS + 94, n_li)) * DAY_US)})
    gaps = rng.integers(1, 2 * 30 * DAY_US // n_ev, n_ev)
    _write(f"{out}/events.parquet", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(EVENT_EPOCH_US + np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    words = np.array(WORDS)
    texts = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.1:  # near-duplicate of an earlier doc
            base = texts[int(rng.integers(0, i))].split(" ")
            base[int(rng.integers(0, len(base)))] = "dup"
            texts.append(" ".join(base))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 100)))]))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    _write(f"{out}/documents.parquet", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    vecs = rng.normal(size=(n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(f"{out}/embeddings.parquet", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})


# --------------------------------------------------------------------------
# IoT JSONL backlog

def fahrenheit_cents(t):
    """temp_fahrenheit rounded to cents, from the same double arithmetic
    IotPipeline.transform uses (t * 9.0 / 5.0 + 32.0)."""
    return math.floor((t * 9.0 / 5.0 + 32.0) * 100.0 + 0.5)


def iot_backlog(out, seed, lines, files, devices, threshold=10.0):
    """Write `files` JSONL files holding `lines` lines in total plus the
    device dimension (`devices.jsonl`), and return the manifest: the
    counts and the temp_fahrenheit checksum the pipeline must reproduce."""
    os.makedirs(f"{out}/in", exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    kind = rng.choice(6, size=lines, p=[0.90, 0.02, 0.02, 0.02, 0.02, 0.02])
    dev = rng.integers(0, devices, lines)
    temp = np.round(rng.uniform(-5.0, 40.0, lines), 1)
    hum = np.round(rng.uniform(20.0, 90.0, lines), 1)
    pres = np.round(rng.uniform(990.0, 1030.0, lines), 1)
    secs = rng.integers(0, 86_400 * 7, lines)
    non_objects = ['[1, 2]', '"just a string"', '42', 'null']
    good = dead = above = dims_hit = with_temp = 0
    cents = cents_all = 0
    per_file = math.ceil(lines / files)
    for f in range(files):
        rows = []
        for i in range(f * per_file, min(lines, (f + 1) * per_file)):
            k = kind[i]
            ts = f"2025-07-{1 + secs[i] // 86_400:02d}T{secs[i] % 86_400 // 3600:02d}:" \
                 f"{secs[i] % 3600 // 60:02d}:{secs[i] % 60:02d}Z"
            rec = {"device_id": f"dev-{dev[i]:05d}", "location": f"site-{dev[i] % 97}",
                   "temperature": float(temp[i]), "humidity": float(hum[i]),
                   "pressure": float(pres[i]), "timestamp": ts}
            if k == 1:    # malformed JSON: truncated object
                rows.append(json.dumps(rec)[:-7])
                dead += 1
                continue
            if k == 2:    # well-formed but not an object
                rows.append(non_objects[i % 4])
                dead += 1
                continue
            if k == 3:    # missing temperature: kept, no °F, below any threshold
                del rec["temperature"]
            if k == 4:    # out-of-range humidity: kept, humidity_valid = false
                rec["humidity"] = float(hum[i] + 100.0)
            if k == 5:    # integer temperature
                rec["temperature"] = int(temp[i])
            good += 1
            t = rec.get("temperature")
            if t is not None:
                with_temp += 1
                cents_all += fahrenheit_cents(float(t))
            if t is not None and t > threshold:
                above += 1
                cents += fahrenheit_cents(float(t))
                dims_hit += dev[i] % 2 == 0
            rows.append(json.dumps(rec))
        with open(f"{out}/in/part-{f:04d}.jsonl", "w") as fh:
            fh.write("\n".join(rows) + "\n")
    with open(f"{out}/devices.jsonl", "w") as fh:   # every other device has a location id
        fh.write("\n".join(json.dumps({"device_id": f"dev-{d:05d}", "location_id": d})
                           for d in range(0, devices, 2)) + "\n")
    manifest = {"lines": lines, "good": good, "dead_letter": dead, "above_threshold": above,
                "located": int(dims_hit), "fahrenheit_cents": int(cents),
                "with_temperature": with_temp, "fahrenheit_cents_all": int(cents_all),
                "threshold": threshold}
    with open(f"{out}/manifest.json", "w") as fh:
        json.dump(manifest, fh)
    return manifest


# --------------------------------------------------------------------------
# Stateful-stream slice

def stream_slice(out, seed, batches, batch_rows, users, dup_share=0.05):
    """Write `batches` micro-batches of `batch_rows` events each as one
    parquet file with a `batch` column (arrival batch) and a `seq` column
    (arrival order inside the batch). Event time is contiguous and
    increasing across batches; inside a batch the arrival order is a
    seeded permutation (jitter bounded by the batch, so it never crosses
    a watermark). `dup` marks re-delivered copies, which only the dedup
    operator is fed."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    n = batches * batch_rows
    start = EVENT_EPOCH_US + int(rng.integers(0, 300)) * DAY_US
    ts = start + np.cumsum(rng.integers(500_000, 3_000_000, n))
    ids = int(rng.integers(0, 1 << 40)) + np.arange(n)
    et = np.array(EVENT_TYPES)[rng.integers(0, 5, n)]
    uid = rng.integers(0, users, n)
    val = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
    batch = np.repeat(np.arange(batches), batch_rows)
    seq = np.concatenate([rng.permutation(batch_rows) for _ in range(batches)])
    # re-delivered copies land in the same batch at a random position
    d = np.flatnonzero(rng.random(n) < dup_share)
    cols = {
        "event_id": np.concatenate([ids, ids[d]]),
        "ts": np.concatenate([ts, ts[d]]),
        "user_id": np.concatenate([uid, uid[d]]),
        "event_type": np.concatenate([et, et[d]]),
        "value": np.concatenate([val, val[d]]),
        "batch": np.concatenate([batch, batch[d]]).astype(np.int32),
        "seq": np.concatenate([seq, batch_rows + rng.integers(0, batch_rows, len(d))]).astype(np.int32),
        "dup": np.concatenate([np.zeros(n, bool), np.ones(len(d), bool)]),
    }
    _write(f"{out}/slice.parquet", {
        "event_id": pa.array(cols["event_id"], pa.int64()),
        "ts": _ts(cols["ts"]),
        "user_id": pa.array(cols["user_id"], pa.int64()),
        "event_type": cols["event_type"],
        "value": cols["value"],
        "batch": pa.array(cols["batch"], pa.int32()),
        "seq": pa.array(cols["seq"], pa.int32()),
        "dup": pa.array(cols["dup"], pa.bool_())})
    return {"batches": batches, "batch_rows": batch_rows, "events": n, "duplicates": int(len(d))}
