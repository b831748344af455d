"""Seeded input generators for the benchmark workloads.

Everything here is plain Python/numpy and never calls graft: the same
seed always gives the same bytes, and the oracles in `oracle.py` read
these inputs without going through the program under test.

* `captures(dir, seed, ...)`: a capture set that mixes classic pcap and
  pcapng files. Most records are small DNS query/response frames; the
  rest are TCP segments of a few long flows with large payloads. Files
  cover consecutive, non-overlapping time ranges so a time-window
  filter can prune whole files.
* `corpus(dir, seed)`: the parquet tables the LLM-data queries read,
  in the column layout of the TPC-H-like test tables (region, nation,
  customer, supplier, part, orders, lineitem, documents, embeddings).
* `zip_archives(dir, seed)`: zip archives with stored and deflated
  entries.
"""
import hashlib
import os
import struct
import zipfile

import numpy as np

GEN_VERSION = 3

# ---------------------------------------------------------------- captures

QTYPES = [(1, 0.40), (28, 0.20), (15, 0.10), (16, 0.10), (2, 0.08),
          (5, 0.07), (33, 0.05)]
WORDS = ("alpha beta gamma delta mail cdn api static img video edge news "
         "shop auth login cloud data files docs www ns1 ns2 mx").split()
TLDS = ["com", "net", "org", "io", "de"]
T0 = 1_700_000_000  # first capture second


def _eth_ip(proto, src, dst, l4):
    ip = struct.pack("!BBHHHBBH4s4s", 0x45, 0, 20 + len(l4), 0, 0, 64,
                     proto, 0, src, dst)
    return (b"\x02\x00\x00\x00\x00\x02\x02\x00\x00\x00\x00\x01\x08\x00"
            + ip + l4)


def _dns(qid, response, qtype, labels, rdata):
    q = b"".join(bytes([len(l)]) + l.encode() for l in labels) + b"\x00"
    q += struct.pack("!HH", qtype, 1)
    answer = b""
    if response and qtype in (1, 28):
        rd = rdata[:4 if qtype == 1 else 16]
        answer = struct.pack("!HHHIH", 0xC00C, qtype, 1, 300, len(rd)) + rd
    flags = 0x8180 if response else 0x0100
    hdr = struct.pack("!HHHHHH", qid, flags, 1, 1 if answer else 0, 0, 0)
    return hdr + q + answer


def _ip4(a, b, c, d):
    return bytes([a, b, c, d])


def capture_records(rng, file_idx, n_dns, flows, seconds):
    """(ts_micro, frame) records of one file, in time order. All random
    draws are made up front, as arrays."""
    base = (T0 + file_idx * seconds) * 1_000_000
    span = seconds * 1_000_000
    qtypes = np.array([t for t, _ in QTYPES])[
        rng.choice(len(QTYPES), n_dns, p=[w for _, w in QTYPES])]
    resp = rng.random(n_dns) < 0.5
    c3 = rng.integers(0, 256, n_dns)
    c4 = rng.integers(1, 255, n_dns)
    srv = rng.integers(1, 5, n_dns)
    cport = 1024 + rng.integers(0, 60000, n_dns)
    qid = rng.integers(0, 65536, n_dns)
    nlab = rng.integers(1, 4, n_dns)
    words = rng.integers(0, len(WORDS), (n_dns, 3))
    host = rng.integers(0, 500, n_dns)
    tld = rng.integers(0, len(TLDS), n_dns)
    rdata = rng.integers(0, 256, (n_dns, 16), dtype=np.uint8)
    ts = base + rng.integers(0, span, n_dns)
    recs = []
    for i in range(n_dns):
        labels = [WORDS[w] for w in words[i, :nlab[i]]]
        labels += ["h%d" % host[i], TLDS[tld[i]]]
        qt = int(qtypes[i])
        msg = _dns(int(qid[i]), bool(resp[i]), qt, labels, rdata[i].tobytes())
        client = _ip4(10, 0, int(c3[i]), int(c4[i]))
        server = _ip4(192, 168, 53, int(srv[i]))
        if resp[i]:
            udp = struct.pack("!HHHH", 53, int(cport[i]), 8 + len(msg), 0)
            frame = _eth_ip(17, server, client, udp + msg)
        else:
            udp = struct.pack("!HHHH", int(cport[i]), 53, 8 + len(msg), 0)
            frame = _eth_ip(17, client, server, udp + msg)
        recs.append((int(ts[i]), frame))
    for (src, dst, sport, dport, isn, sizes, data) in flows:
        seq, off = isn, 0
        tts = base + rng.integers(0, span, len(sizes))
        for n, t in zip(sizes, tts):
            n = int(n)
            tcp = struct.pack("!HHIIBBHHH", sport, dport, seq & 0xFFFFFFFF,
                              1, 0x50, 0x18, 65535, 0, 0) + data[off:off + n]
            recs.append((int(t), _eth_ip(6, src, dst, tcp)))
            seq += n
            off += n
    recs.sort(key=lambda r: r[0])
    return recs


def write_pcap(path, recs):
    with open(path, "wb") as f:
        f.write(struct.pack("<IHHiIII", 0xA1B2C3D4, 2, 4, 0, 0, 65535, 1))
        for ts, frame in recs:
            f.write(struct.pack("<IIII", ts // 1_000_000, ts % 1_000_000,
                                len(frame), len(frame)))
            f.write(frame)


def write_pcapng(path, recs):
    def block(btype, body):
        pad = (-len(body)) % 4
        n = 12 + len(body) + pad
        return (struct.pack("<II", btype, n) + body + b"\x00" * pad
                + struct.pack("<I", n))
    with open(path, "wb") as f:
        f.write(block(0x0A0D0D0A, struct.pack("<IHHq", 0x1A2B3C4D, 1, 0, -1)))
        # if_tsresol = 6 (microseconds), then opt_endofopt
        opts = struct.pack("<HHB3x", 9, 1, 6) + struct.pack("<HH", 0, 0)
        f.write(block(1, struct.pack("<HHI", 1, 0, 65535) + opts))
        for ts, frame in recs:
            f.write(block(6, struct.pack("<IIIII", 0, ts >> 32,
                                         ts & 0xFFFFFFFF, len(frame),
                                         len(frame)) + frame))


def captures(out_dir, seed, n_files=8, n_dns=24000, flows_per_file=3,
             segs_per_flow=600, seconds=60):
    """Write the capture set; returns the list of file names."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    names = []
    for i in range(n_files):
        flows = []
        for j in range(flows_per_file):
            sizes = rng.integers(600, 1461, segs_per_flow)
            data = rng.bytes(int(sizes.sum()))
            flows.append((_ip4(10, 1, i, j + 1), _ip4(172, 16, 0, 1 + j % 4),
                          30000 + 100 * i + j, 443 if j % 2 else 80,
                          int(rng.integers(1 << 31)), sizes, data))
        recs = capture_records(rng, i, n_dns, flows, seconds)
        name = "cap%02d.%s" % (i, "pcapng" if i % 2 else "pcap")
        (write_pcapng if i % 2 else write_pcap)(os.path.join(out_dir, name),
                                                recs)
        names.append(name)
    return names


# ------------------------------------------------------------------ corpus

VOCAB = ("a the data spark query table row column scan filter join agg group "
         "order sort hash key value line part customer batch stream window "
         "merge fast slow big small vector").split()
LANGS = ["en", "es", "fr", "zh", "de"]


def _write(table, out_dir, name):
    import pyarrow.parquet as pq
    pq.write_table(table, os.path.join(out_dir, name + ".parquet"),
                   compression="snappy")


def corpus(out_dir, seed, variants=4, scale=1.0):
    """Write the corpus tables. The relational, graph and embedding tables
    come from `seed % variants` (their slowest oracles are cached per
    variant, see oracle.py); `documents` comes from the full seed."""
    import pyarrow as pa
    os.makedirs(out_dir, exist_ok=True)
    v = seed % variants
    rng = np.random.default_rng([v, 2])
    n_cust, n_supp, n_part = int(1500 * scale), int(100 * scale), \
        int(2000 * scale)
    n_ord = int(15000 * scale)
    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        out_dir, "region")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": ["NATION_%d" % i for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        out_dir, "nation")
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": ["Customer#%09d" % i for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": [segs[k] for k in rng.integers(0, 5, n_cust)]}),
        out_dir, "customer")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": ["Supplier#%09d" % i for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2)}),
        out_dir, "supplier")
    adj = ["small", "red", "big", "green", "blue", "steel"]
    noun = ["ring", "widget", "bolt", "gear", "panel", "valve"]
    types = ["ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM", "SMALL"]
    price = np.round(900 + np.arange(n_part) * 0.1 % 1100, 2)
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": ["%s %s" % (adj[a], noun[b]) for a, b in
                   zip(rng.integers(0, 6, n_part),
                       rng.integers(0, 6, n_part))],
        "p_brand": ["Brand#%d" % k for k in rng.integers(1, 26, n_part)],
        "p_type": [types[k] for k in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": price}), out_dir, "part")
    day = np.datetime64("1995-01-01", "us")
    odates = day + rng.integers(0, 2404, n_ord).astype("timedelta64[D]")
    status = np.array(["F", "O", "P"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": status[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": pa.array(odates, pa.timestamp("us")),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]}),
        out_dir, "orders")
    per = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), per)
    n_li = len(okey)
    lnum = np.concatenate([np.arange(1, k + 1) for k in per])
    qty = rng.integers(1, 51, n_li).astype(float)
    pk = rng.integers(0, n_part, n_li)
    ship = np.repeat(odates, per) + rng.integers(1, 122, n_li).astype(
        "timedelta64[D]")
    _write(pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(pk, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[pk], 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(ship, pa.timestamp("us"))}),
        out_dir, "lineitem")
    n_emb, dim, k = int(500 * scale), 64, 10
    cent = rng.normal(0, 1, (k, dim))
    label = rng.integers(0, k, n_emb)
    vec = cent[label] + rng.normal(0, 0.6, (n_emb, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())}), out_dir, "embeddings")

    documents(out_dir, seed, int(500 * scale))
    return v


def documents(out_dir, seed, n_doc):
    """The documents table: random word strings; every fifth document is
    a light edit of an earlier one, so the near-duplicate queries find
    pairs."""
    import pyarrow as pa
    os.makedirs(out_dir, exist_ok=True)
    drng = np.random.default_rng([seed, 3])
    texts = []
    for i in range(n_doc):
        if i >= 10 and i % 5 == 0:
            w = texts[int(drng.integers(0, i))].split()
            for _ in range(int(drng.integers(1, 4))):
                w[int(drng.integers(len(w)))] = VOCAB[
                    int(drng.integers(len(VOCAB)))]
            texts.append(" ".join(w))
        else:
            n = int(drng.integers(8, 90))
            texts.append(" ".join(VOCAB[j] for j in
                                  drng.integers(0, len(VOCAB), n)))
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": [LANGS[j] for j in drng.choice(5, n_doc,
                                               p=[.44, .14, .13, .15, .14])],
        "source": ["src%d" % (i % 20) for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        out_dir, "documents")


def table_fingerprint(paths):
    """Content fingerprint of parquet tables: md5 over their decoded rows,
    so it does not depend on how a pyarrow version lays out the file."""
    import pyarrow.parquet as pq
    h = hashlib.md5()
    for p in paths:
        t = pq.read_table(p)
        h.update(str(t.schema).encode())
        for c in t.columns:
            h.update(repr(c.to_pylist()).encode())
    return h.hexdigest()[:16]


# -------------------------------------------------------------------- zip

def zip_archives(out_dir, seed, n=6):
    """`n` archives of 30 entries each. The entry count does not depend on
    the seed: the zip scan's cost grows with it (one task per entry)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 4])
    for i in range(n):
        with zipfile.ZipFile(os.path.join(out_dir, "z%02d.zip" % i), "w") as z:
            for j in range(30):
                n = int(rng.integers(50, 4000))
                words = [VOCAB[k] for k in rng.integers(0, len(VOCAB), n)]
                data = " ".join(words).encode()
                info = zipfile.ZipInfo("docs/e%03d.txt" % j,
                                       date_time=(2024, 1, 1, 0, 0, 0))
                info.compress_type = (zipfile.ZIP_STORED if (i + j) % 3 == 0
                                      else zipfile.ZIP_DEFLATED)
                z.writestr(info, data)
