"""Independent computations the benchmark checks graft's outputs against.

* A capture record walker (classic pcap and pcapng, Ethernet/IPv4/UDP/TCP,
  DNS questions) written here in plain Python; it never calls graft.
* DuckDB runs each corpus query's oracle SQL (`SparkEntry.oracleSql`) on
  the same parquet tables. The slowest oracles are cached under the
  fingerprint of their input tables and their SQL: in `oracles/` (kept
  with the benchmark, one file per corpus variant) and in the local
  state cache.
* Round-trip checks for the sinks: the written files are walked again
  here (pcap/pcapng with the walker, wds shards with `tarfile`, zip with
  `zipfile`), and document payload md5s come from DuckDB.

`python3 perfbench/oracle.py remake` recomputes the kept answers from
DuckDB (it builds the harness first, for the oracle SQL).
"""
import datetime
import decimal
import glob
import hashlib
import json
import math
import os
import struct
import sys
import tarfile
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
KEPT = os.path.join(HERE, "oracles")
# queries whose DuckDB oracle takes minutes: their answers are kept
SLOW = ("pipeline_pagerank", "sim_ann_ivfpq")


# ------------------------------------------------------------ pcap walker

def records(path):
    """Yields (ts_micro, frame) for each record of a pcap/pcapng file."""
    with open(path, "rb") as f:
        data = f.read()
    magic = struct.unpack_from("<I", data, 0)[0]
    if magic == 0x0A0D0D0A:
        off, resol = 0, 6
        while off + 12 <= len(data):
            btype, blen = struct.unpack_from("<II", data, off)
            if btype == 1:  # IDB: look for if_tsresol
                o = off + 16
                while o + 4 <= off + blen - 4:
                    code, olen = struct.unpack_from("<HH", data, o)
                    if code == 0:
                        break
                    if code == 9:
                        resol = data[o + 4]
                    o += 4 + olen + (-olen) % 4
            elif btype == 6:
                _, hi, lo, cap, _ = struct.unpack_from("<IIIII", data, off + 8)
                ts = (hi << 32) | lo
                if resol != 6:
                    ts = ts * 10 ** 6 // 10 ** resol
                yield ts, data[off + 28:off + 28 + cap]
            off += blen
        return
    if magic != 0xA1B2C3D4:
        raise ValueError("%s: not a little-endian microsecond pcap" % path)
    off = 24
    while off + 16 <= len(data):
        sec, usec, cap, _ = struct.unpack_from("<IIII", data, off)
        yield sec * 1_000_000 + usec, data[off + 16:off + 16 + cap]
        off += 16 + cap


def ipstr(b):
    return "%d.%d.%d.%d" % tuple(b)


def decode(frame):
    """(protocol, src, dst, sport, dport, payload, tcp_seq) or None."""
    if len(frame) < 34 or frame[12:14] != b"\x08\x00":
        return None
    ihl = (frame[14] & 0x0F) * 4
    total = struct.unpack_from("!H", frame, 16)[0]
    proto = frame[23]
    src, dst = ipstr(frame[26:30]), ipstr(frame[30:34])
    l4 = 14 + ihl
    end = 14 + total
    if proto == 17:
        sp, dp = struct.unpack_from("!HH", frame, l4)
        return "UDP", src, dst, sp, dp, frame[l4 + 8:end], None
    if proto == 6:
        sp, dp, seq = struct.unpack_from("!HHI", frame, l4)
        doff = (frame[l4 + 12] >> 4) * 4
        return "TCP", src, dst, sp, dp, frame[l4 + doff:end], seq
    return None


def dns_question(msg):
    """(qr, qtype, presentation-name length) of a DNS message."""
    flags = struct.unpack_from("!H", msg, 2)[0]
    o, n = 12, 0
    while msg[o]:
        n += msg[o] + 1
        o += msg[o] + 1
    return bool(flags >> 15), struct.unpack_from("!H", msg, o + 1)[0], \
        max(n, 1)


def capture_files(d):
    return sorted(glob.glob(os.path.join(d, "*.pcap")) +
                  glob.glob(os.path.join(d, "*.pcapng")))


def walk(d):
    """Every decoded record of a capture directory."""
    out = []
    for f in capture_files(d):
        for ts, frame in records(f):
            out.append((ts, frame, decode(frame)))
    return out


def capture_expected(d, window, tuple5):
    recs = walk(d)
    qt, ports, protos, flows = {}, {}, {}, {}
    win = [0, 0, None, None]
    five = [0, 0]
    for ts, frame, dec in recs:
        if dec is None:
            continue
        proto, src, dst, sp, dp, payload, seq = dec
        plen = len(payload)
        p = protos.setdefault(proto, [0, 0])
        p[0] += 1
        p[1] += plen
        if dp < 1024:
            q = ports.setdefault(dp, [0, 0])
            q[0] += 1
            q[1] += plen
        if proto == "UDP" and 53 in (sp, dp):
            qr, qtype, nlen = dns_question(payload)
            q = qt.setdefault((qtype, qr), [0, 0])
            q[0] += 1
            q[1] += nlen
        if window[0] <= ts // 1_000_000 < window[1]:
            win[0] += 1
            win[1] += plen
            win[2] = ts if win[2] is None else min(win[2], ts)
            win[3] = ts if win[3] is None else max(win[3], ts)
        if (proto, src, dst, sp, dp) == ("TCP", tuple5["src"], tuple5["dst"],
                                         tuple5["sport"], tuple5["dport"]):
            five[0] += 1
            five[1] += plen
        if proto == "TCP" and plen > 0:
            flows.setdefault((src, sp, dst, dp), []).append((seq, payload))
    flow_rows = []
    for (src, sp, dst, dp), segs in flows.items():
        stream = b"".join(p for _, p in sorted(segs, key=lambda s: s[0]))
        flow_rows.append([src, sp, dst, dp, len(segs), len(stream),
                          hashlib.md5(stream).hexdigest(), False])
    return {
        "dns_qtypes": [[t, qr, n, c] for (t, qr), (n, c) in qt.items()],
        "port_histogram": [[p, n, b] for p, (n, b) in ports.items()],
        "protocol_mix": [[p, n, b] for p, (n, b) in protos.items()],
        "time_window": [win],
        "five_tuple": [five],
        "count_all": [[len(recs)]],
        "tcp_flows": flow_rows,
    }


def same_rows(got, want):
    def key(rows):
        return sorted(json.dumps(r, sort_keys=True) for r in rows)
    return key(got) == key(want)


# ----------------------------------------------------------------- duckdb

TABLES = ("region nation customer supplier part orders lineitem "
          "documents embeddings").split()


def tables_of(sql):
    import re
    return sorted(set(t for t in TABLES if re.search(r"\b%s\b" % t, sql)))


def canon(v):
    """One comparable, JSON-able form for a value from pyarrow or DuckDB."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        if isinstance(v, float) and not math.isfinite(v):
            return repr(v)
        if v == int(v):
            return int(v)
        return float(v)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, dict):
        return [[k, canon(x)] for k, x in sorted(v.items())]
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    if hasattr(v, "tolist"):
        return canon(v.tolist())
    return str(v)


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [json.dumps([canon(r[i]) for i in order]) for r in rows]
    return {"cols": [cols[i] for i in order], "rows": sorted(out)}


def spark_rows(parquet_dir):
    import pyarrow.parquet as pq
    files = sorted(glob.glob(os.path.join(parquet_dir, "*.parquet")))
    t = pq.read_table(files[0])
    for f in files[1:]:
        import pyarrow as pa
        t = pa.concat_tables([t, pq.read_table(f)])
    cols = t.column_names
    data = [t.column(c).to_pylist() for c in cols]
    return canon_rows(cols, list(zip(*data)) if data else [])


def duck(corpus_dir):
    import duckdb
    con = duckdb.connect()
    con.sql("SET threads=4")
    for t in TABLES:
        p = os.path.join(corpus_dir, t + ".parquet")
        if os.path.exists(p):
            con.sql("CREATE VIEW %s AS SELECT * FROM '%s'" % (t, p))
    return con


def oracle_key(name, sql, fps):
    h = hashlib.md5(sql.encode())
    for t in tables_of(sql):
        h.update(fps[t].encode())
    return "%s.%s" % (name, h.hexdigest()[:16])


def corpus_expected(name, sql, fps, cache_dir, con):
    """The oracle's canonical rows, from a kept answer, the cache or a
    DuckDB run on `con` (whose answer is then cached in `cache_dir`)."""
    key = oracle_key(name, sql, fps)
    for d in (KEPT, cache_dir):
        p = os.path.join(d, key + ".json")
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
    res = con.sql(sql)
    ans = canon_rows(list(res.columns), res.fetchall())
    os.makedirs(cache_dir, exist_ok=True)
    tmp = os.path.join(cache_dir, key + ".json.tmp")
    with open(tmp, "w") as f:
        json.dump(ans, f)
    os.replace(tmp, os.path.join(cache_dir, key + ".json"))
    return ans


# ---------------------------------------------------------------- archive

def frame_set(recs, carve, window):
    ms = sorted(hashlib.md5(fr).hexdigest() for ts, fr, dec in recs
                if dec is not None and dec[0] == "UDP"
                and carve[0] <= ts // 1_000_000 < carve[1]
                and window[0] <= ts // 1_000_000 < window[1])
    return [len(ms), hashlib.md5(",".join(ms).encode()).hexdigest()]


def jpeg_dims(b):
    o = 2
    while o < len(b):
        marker, n = b[o + 1], struct.unpack_from("!H", b, o + 2)[0]
        if marker in (0xC0, 0xC1, 0xC2):
            h, w = struct.unpack_from("!HH", b, o + 5)
            return w, h
        o += 2 + n
    return None


def wds_entries(d):
    out = {}
    for shard in sorted(glob.glob(os.path.join(d, "**", "*.tar"),
                                  recursive=True)):
        with tarfile.open(shard) as t:
            for m in t.getmembers():
                if m.isfile():
                    key, ext = m.name.split("/")[-1].split(".", 1)
                    out.setdefault(key, {})[ext] = t.extractfile(m).read()
    return out


def zip_expected(d):
    rows = []
    for p in sorted(glob.glob(os.path.join(d, "*.zip"))):
        with zipfile.ZipFile(p) as z:
            for i in z.infolist():
                data = z.read(i)
                rows.append([os.path.basename(p), i.filename, i.file_size,
                             i.CRC, hashlib.md5(data).hexdigest()])
    return rows


def archive_check(res, params, sinks_dir):
    """Problems found in an archive_roundtrip run (empty = correct)."""
    import duckdb
    bad = []
    checks = res["checks"]
    cap = walk(params["captures"])
    carve, window = params["carve"], params["window"]
    everything = [0, 1 << 62]
    for c in ("pcap", "pcapng"):
        want = frame_set(cap, carve, window)
        if checks.get(c + "_read_back") != want:
            bad.append("%s_read_back: %r != %r" % (
                c, checks.get(c + "_read_back"), want))
        # what the sink wrote is exactly the carved subset
        written = walk(os.path.join(sinks_dir, c))
        if frame_set(written, carve, everything) != \
                frame_set(cap, carve, everything):
            bad.append("%s sink output differs from the carved frames" % c)
    docs = duckdb.sql(
        "SELECT doc_id, md5(text) FROM '%s'" % params["documents"]).fetchall()
    want = [["http://docs.example/d%d" % i, 200, m] for i, m in docs]
    if not same_rows(checks.get("warc_scan", []), want):
        bad.append("warc_scan rows differ from documents")
    ent = wds_entries(os.path.join(sinks_dir, "wds"))
    txt = {str(i): m for i, m in docs}
    got = {r[0]: r for r in checks.get("wds_scan_decode", [])}
    if set(got) != set(txt) or set(ent) != set(txt):
        bad.append("wds keys differ from documents")
    else:
        for k, m in txt.items():
            e = ent[k]
            w_h = jpeg_dims(e["jpg"])
            r = got[k]
            if (hashlib.md5(e["txt"]).hexdigest() != m or r[5] != m
                    or r[4] != hashlib.md5(e["jpg"]).hexdigest()
                    or w_h != (r[1], r[2])):
                bad.append("wds row %s differs" % k)
                break
    if not same_rows(checks.get("zip_scan", []),
                     zip_expected(params["zip"])):
        bad.append("zip_scan rows differ from zipfile")
    return bad


# ----------------------------------------------------------------- remake

def remake():
    """Recompute the kept answers of the slow oracles for every corpus
    variant, with DuckDB."""
    sys.path.insert(0, HERE)
    import gen
    import run
    cp = run.build()
    state = os.path.join(run.STATE, "remake")
    os.makedirs(state, exist_ok=True)
    sqlf = os.path.join(state, "oracle_sql.json")
    run.java(cp, ["graft.perfbench.Harness", "--oracle-sql", sqlf,
                  "--queries", ",".join(SLOW)], state)
    with open(sqlf) as f:
        sqls = json.load(f)
    os.makedirs(KEPT, exist_ok=True)
    for old in glob.glob(os.path.join(KEPT, "*.json")):
        os.remove(old)
    for v in range(run.CORPUS_VARIANTS):
        d = os.path.join(state, "corpus%d" % v)
        gen.corpus(d, v, variants=run.CORPUS_VARIANTS,
                   scale=run.CORPUS_SCALE)
        fps = run.corpus_fingerprints(d)
        con = duck(d)
        for name, sql in sqls.items():
            corpus_expected(name, sql, fps, KEPT, con)
            print("kept", name, "variant", v, flush=True)


if __name__ == "__main__":
    if sys.argv[1:] == ["remake"]:
        remake()
    else:
        print(__doc__)
        sys.exit(2)
