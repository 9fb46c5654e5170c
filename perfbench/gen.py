"""Seeded input generators of the benchmark.

Everything here is a pure function of the seed: the streaming workloads'
event lists (Kafka row shape, FIXTURES A.2/A.3, bodies in mixed_records
shape, A.1) with the outputs the job must deliver for them, and the parquet
tables the catalogue entries read (the schema of TESTDATA.md's tables).
"""
import base64
import json
import os
import random
import time

TOPIC = "ingest.perf.bench.in"
NOTIFICATION_TOPIC = "ingest.perf.bench.notification"
UNKNOWN_BATCH = "Bad Message - Unknown batchId"
UTF8_HEADER = "testUtf8あいうえおか"

# Streaming shapes. Rates and sizes are fixed here, not derived from the
# machine, so every commit is measured on the same inputs.
DRAIN_BATCHES = 30            # small batches beside the hot one
DRAIN_RECORDS = 6000          # records per drain round; the hot batch has half
DRAIN_FILE_RECORDS = 400      # records per source file
DRAIN_FILES_PER_TRIGGER = 5   # admission bound (maxFilesPerTrigger)
DRAIN_DELAY_MS = 200          # completion delay
CHURN_BATCHES_PER_S = 15      # offered batch rate of batch_churn
CHURN_DELAY_MS = 500          # completion delay
CHURN_TICK_MS = 200           # the generator writes one file per tick
CHURN_KINDS = (("normal", 70), ("overcount", 8), ("terminated", 7),
               ("unknown", 5), ("seeded", 10))

NAMES = ["БВГДЖЗИЙЛ", "あいうえおか", "ᚠᚢᚦᚨᚱᚲ", "Ωμέγα", "Ünïcödé"]


def body(i):
    """One data record in mixed_records shape: 8 of 15 say Bundle, 7 the
    deliberate typo Bundul; non-ASCII UTF-8 exercises byte fidelity."""
    rtype = "Bundle" if i % 15 < 8 else "Bundul"
    name = NAMES[i % len(NAMES)]
    return (
        '{"resourceType":"%s","type":"collection","entry":[{"resource":{'
        '"resourceType":"Practitioner","identifier":[{"value":"%d"}],'
        '"name":[{"given":["Dr. Test %d, MD"]}],'
        '"address":[{"line":["%s"],"postalCode":"%04d"}]}}]}'
        % (rtype, 1000000 + i, i, name, i % 10000)).encode("utf-8")


def notification(batch, status, expected=None):
    n = {"id": batch, "name": "name-" + batch, "topic": TOPIC, "dataType": "claims",
         "status": status, "startDate": "2020-04-08T03:02:23Z",
         "endDate": "2020-04-11T16:02:44Z", "invalidThreshold": -1,
         "metadata": {"test": "perf ✓"}}
    if expected is not None:
        n["expectedRecordCount"] = expected
    return n


def record(batch, i, rng):
    headers = [("batchId", batch.encode("utf-8"))]
    if rng.random() < 0.5:
        headers.append((UTF8_HEADER, "あいうえおか".encode("utf-8")))
    return {"kind": "record", "batch": batch, "key": str(i).encode("utf-8"),
            "value": body(i), "headers": headers}


def note(batch, status, expected=None):
    return {"kind": "note", "batch": batch, "status": status,
            "json": notification(batch, status, expected)}


class Stream:
    """An ordered event list plus what the job must deliver for it."""

    def __init__(self):
        self.events = []        # dicts from record()/note(), with "due" (ms)
        self.expect = {}        # record key -> ("k1"|"k2", value, headers)
        self.terminal = {}      # batch -> expected terminal notification or None
        self.lookup = []        # notifications the BatchLookup knows
        self.batch_due = {}     # batch -> due of its sendCompleted (ms)

    @property
    def records(self):
        return len(self.expect)

    @property
    def notifications(self):
        return sum(1 for t in self.terminal.values() if t is not None)

    def add(self, ev, due):
        ev["due"] = due
        self.events.append(ev)
        if ev["kind"] == "record":
            unknown = ev["batch"] not in self.terminal
            value = json.dumps({"failure": UNKNOWN_BATCH}, separators=(",", ":")).encode() \
                if unknown else ev["value"]
            self.expect[ev["key"]] = ("k2" if unknown else "k1", value, ev["headers"])


def terminal(n, status, count):
    return dict(n, status=status, recordCount=count)


def drain_stream(seed, records=DRAIN_RECORDS, batches=DRAIN_BATCHES, prefix="d"):
    """hot_batch_drain: all started notifications, then the records of one
    hot batch (half) and `batches` small ones interleaved, then every
    sendCompleted. Due times only order the events: the whole backlog is
    due when a round starts."""
    rng = random.Random(seed)
    s = Stream()
    hot = f"{prefix}-hot-{seed}"
    small = [f"{prefix}-b{j:02d}-{seed}" for j in range(batches)]
    owners = [hot] * (records // 2) + [rng.choice(small) for _ in range(records - records // 2)]
    rng.shuffle(owners)
    counts = {b: owners.count(b) for b in [hot] + small}
    t = 0
    for b in [hot] + small:
        s.terminal[b] = terminal(notification(b, "sendCompleted", counts[b]), "completed", counts[b])
        s.add(note(b, "started"), t)
        t += 1
    for i, b in enumerate(owners):
        s.add(record(b, i, rng), t)
        t += 1
    for b in [hot] + small:
        s.add(note(b, "sendCompleted", counts[b]), t)
        t += 1
    return s


def churn_stream(seed, seconds, rate=None, prefix="c"):
    """batch_churn: `rate` new batches per second for `seconds`, each living
    0.5-1.5 s, of five kinds whose outcome does not depend on timing:
    normal (completed), overcount (failed at sendCompleted), terminated (no
    terminal notification), unknown (every record invalid, 404 lookup) and
    seeded (records before `started`, state seeded by the lookup). Due
    times are ms after the schedule starts, distinct within a batch."""
    rate = rate or CHURN_BATCHES_PER_S
    rng = random.Random(seed)
    s = Stream()
    kinds, weights = zip(*CHURN_KINDS)
    total = int(rate * seconds)
    key = 0
    timed = []
    for j in range(total):
        b = f"{prefix}-{j:05d}-{seed}"
        kind = rng.choices(kinds, weights)[0]
        t0 = int(j * 1000 / rate) + rng.randrange(0, 10)
        life = rng.randrange(500, 1500)
        n = rng.randrange(5, 26)
        extra = rng.randrange(1, 4) if kind == "overcount" else 0
        slots = sorted(rng.sample(range(t0 + 1, t0 + life), n + extra + (kind == "seeded")))
        start = (note(b, "started"), t0)
        if kind == "seeded":  # `started` arrives mid-batch, after a lookup seeded it
            start = (note(b, "started"), slots.pop(len(slots) // 2))
            s.lookup.append(notification(b, "started"))
        recs = []
        for d in slots:
            recs.append((record(b, key, rng), d))
            key += 1
        if kind != "unknown":
            timed.append(start)
        timed.extend(recs)
        end = t0 + life
        if kind == "terminated":
            timed.append((note(b, "terminated"), end))
            s.terminal[b] = None
        elif kind != "unknown":
            timed.append((note(b, "sendCompleted", n), end))
            status = "failed" if kind == "overcount" else "completed"
            s.terminal[b] = terminal(notification(b, "sendCompleted", n), status, n + extra)
            s.batch_due[b] = end
    # register batches first so records know whether their batch is known
    for ev, d in sorted(timed, key=lambda x: x[1]):
        s.add(ev, d)
    return s


def kafka_rows(stream, base_ms):
    """JSON lines in Kafka row shape; the broker timestamp is the due time."""
    rec_off = note_off = 0
    out = []
    b64 = lambda b: base64.b64encode(b).decode("ascii")
    for ev in stream.events:
        ts = base_ms + ev["due"]
        if ev["kind"] == "record":
            row = {"key": b64(ev["key"]), "value": b64(ev["value"]), "topic": TOPIC,
                   "partition": 0, "offset": rec_off, "timestampMs": ts,
                   "headers": [{"key": k, "value": b64(v)} for k, v in ev["headers"]]}
            rec_off += 1
        else:
            row = {"key": b64(ev["batch"].encode()),
                   "value": b64(json.dumps(ev["json"], ensure_ascii=False).encode("utf-8")),
                   "topic": NOTIFICATION_TOPIC, "partition": 0, "offset": note_off,
                   "timestampMs": ts, "headers": []}
            note_off += 1
        out.append(json.dumps(row, separators=(",", ":")))
    return out


def write_file(directory, seq, lines, mtime=None):
    """Atomic publish: the file source skips dot-files, so the rename makes
    the whole file visible at once. The file source admits files in
    modification-time order, so a backlog sets distinct times explicitly."""
    tmp = os.path.join(directory, f".part-{seq:06d}.tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    if mtime is not None:
        os.utime(tmp, (mtime, mtime))
    os.rename(tmp, os.path.join(directory, f"part-{seq:06d}.json"))


def write_backlog(stream, directory, per_file, base_ms=1_600_000_000_000):
    """Writes the whole stream as a backlog, one second of modification time
    between files, ending a minute in the past."""
    os.makedirs(directory, exist_ok=True)
    rows = kafka_rows(stream, base_ms)
    chunks = range(0, len(rows), per_file)
    first = time.time() - 60 - len(chunks)
    for seq, i in enumerate(chunks):
        write_file(directory, seq, rows[i:i + per_file], first + seq)


# ---------------------------------------------------------------- tables

WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream", "value",
         "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
         "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query",
         "a", "scan", "batch"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

# Row counts of the catalogue tables: a tenth of sf0.1's lineitem/orders/
# events and half of its documents, so one warm pass of the eight entries
# fits the run.
TABLE_ROWS = {"lineitem": 30000, "orders": 7500, "events": 10000,
              "documents": 400, "embeddings": 1000}


def tables(directory, seed, rows=TABLE_ROWS):
    """Writes the tables the catalogue entries read, one parquet file each,
    with the schema and value domains of the TESTDATA.md tables."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(directory, exist_ok=True)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(directory, name + ".parquet"))

    n_orders = rows["orders"]
    day = np.datetime64("1995-01-01", "us")
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_orders // 10, n_orders, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_orders)),
        "o_totalprice": pa.array(np.round(rng.uniform(900, 500000, n_orders), 2)),
        "o_orderdate": pa.array(day + rng.integers(0, 2404, n_orders) * np.timedelta64(1, "D")),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders)),
    })
    n = rows["lineitem"]
    qty = rng.integers(1, 51, n).astype(np.float64)
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_orders, n, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n // 30, n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, max(10, n // 600), n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
        "l_shipdate": pa.array(day + rng.integers(1, 2499, n) * np.timedelta64(1, "D")),
    })
    n = rows["events"]
    start = np.datetime64("2024-01-01", "us")
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n)).astype("timedelta64[us]")
    write("events", {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(start + ts),
        "user_id": pa.array(rng.integers(0, max(50, n // 66), n, dtype=np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.exponential(50, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })
    n = rows["documents"]
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:   # near-duplicates of earlier docs
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = "dup"
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    write("documents", {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    n = rows["embeddings"]
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n)
    vecs = centers[labels] + rng.normal(0, 1.5, (n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
