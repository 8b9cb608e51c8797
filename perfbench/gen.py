"""Seeded input generators for the benchmark.

Everything here is a pure function of the seed: the same seed writes the same
bytes. Two input families:

* the corpus tables the engine's queries read (a TPC-H-like star schema, an
  event stream, a document corpus and an embedding table), with the column
  names, types and value domains the queries expect;
* NSL-KDD connection records as headerless 43-field CSV, in the layout of the
  public KDDTrain+/KDDTest+ files.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- corpus

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
EPOCH = dt.datetime(1970, 1, 1)


def _micros(d):
    return int((d - EPOCH).total_seconds()) * 1_000_000


def _ts(values):
    return pa.array(values, type=pa.timestamp("us"))


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"),
                   compression="snappy")


def corpus(out_dir, seed, docs, vecs, orders, events, dim=64):
    """Writes the ten corpus tables into `out_dir` (one parquet file each)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = max(orders // 10, 20), max(orders // 150, 10), max(orders // 8, 20)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [segs[i] for i in rng.integers(0, 5, n_cust)]})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = ["red", "small", "hot", "old", "large", "blue"]
    noun = ["plate", "widget", "ring", "rod", "bolt"]
    types = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
    _write(out_dir, "part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in zip(
            rng.integers(0, 6, n_part), rng.integers(0, 5, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [types[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})

    day0 = _micros(dt.datetime(1995, 1, 1))
    day = 86_400_000_000
    odate = day0 + rng.integers(0, 2404, orders) * day
    prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(range(orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, orders), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, orders)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, orders), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": [prio[i] for i in rng.integers(0, 5, orders)]})

    per = rng.integers(1, 8, orders)
    okey = np.repeat(np.arange(orders), per)
    n_li = len(okey)
    lnum = np.concatenate([np.arange(1, p + 1) for p in per])
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(np.repeat(odate, per) + rng.integers(1, 122, n_li) * day)})

    ev0 = _micros(dt.datetime(2024, 1, 1))
    ets = ev0 + np.sort(rng.integers(0, 30 * day, events))
    etypes = ["click", "error", "purchase", "signup", "view"]
    _write(out_dir, "events", {
        "event_id": pa.array(range(events), pa.int64()),
        "ts": _ts(ets),
        "user_id": pa.array(rng.integers(0, max(events // 60, 10), events), pa.int64()),
        "event_type": [etypes[i] for i in rng.integers(0, 5, events)],
        "value": np.round(rng.uniform(0.01, 490.0, events), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, events)]})

    # documents: random word sequences; ~5% re-post an earlier document with
    # a " dup" suffix, the near-duplicates the dedup operators look for
    texts = []
    lens = rng.integers(8, 90, docs)
    picks = rng.integers(0, len(WORDS), int(lens.sum()))
    dup = rng.random(docs) < 0.05
    src = rng.integers(0, docs, docs)
    off = 0
    for i in range(docs):
        if dup[i] and i > 0:
            texts.append(texts[src[i] % i] + " dup")
        else:
            texts.append(" ".join(WORDS[j] for j in picks[off:off + lens[i]]))
        off += lens[i]
    _write(out_dir, "documents", {
        "doc_id": pa.array(range(docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    v = rng.standard_normal((vecs, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(range(vecs), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, vecs), pa.int32())})


# ---------------------------------------------------------------- NSL-KDD

PROTOCOLS = ["tcp", "udp", "icmp"]
SERVICES = ("http private domain_u smtp ftp_data eco_i other ecr_i telnet finger "
            "ftp auth Z39_50 uucp courier bgp whois uucp_path iso_tsap time "
            "imap4 nnsp vmnet urp_i domain ctf csnet_ns supdup discard http_443 "
            "daytime gopher efs systat link exec hostnames name mtp echo klogin "
            "login ldap netbios_dgm sunrpc netbios_ssn netstat netbios_ns kshell "
            "ssh nntp pop_3 sql_net IRC ntp_u rje remote_job pop_2 X11 printer "
            "shell urh_i tim_i red_i pm_dump tftp_u http_8001 aol harvest "
            "http_2784").split()
FLAGS = ["SF", "S0", "REJ", "RSTR", "RSTO", "SH", "S1", "S2", "RSTOS0", "S3", "OTH"]

# attack names per category (the 40-name NSL-KDD dictionary)
ATTACKS = {
    "DoS": ["back", "land", "neptune", "pod", "smurf", "teardrop", "mailbomb",
            "apache2", "processtable", "udpstorm"],
    "Probe": ["ipsweep", "nmap", "portsweep", "satan", "mscan", "saint"],
    "R2L": ["ftp_write", "guess_passwd", "imap", "multihop", "phf", "spy",
            "warezclient", "warezmaster", "sendmail", "named", "snmpgetattack",
            "snmpguess", "xlock", "xsnoop", "worm"],
    "U2R": ["buffer_overflow", "loadmodule", "perl", "rootkit", "httptunnel",
            "ps", "sqlattack", "xterm"],
}
CATS = ["normal", "DoS", "Probe", "R2L", "U2R"]
# labels5 marginals of KDDTrain+ and KDDTest+
TRAIN_MARGINALS = [67343, 45927, 11656, 995, 52]
TEST_MARGINALS = [9711, 7458, 2421, 2754, 200]

# per-category preferred service/flag/protocol and feature shifts: the signal
# the clustered classifier learns (overlapping, so it is not trivial)
_PROFILE = {
    "normal": dict(proto=[0.80, 0.15, 0.05], svc=0, flag=[0.85, 0.05, 0.05], logged=0.7,
                   count=8, serror=0.02, rerror=0.03, same=0.9, host=120),
    "DoS": dict(proto=[0.70, 0.05, 0.25], svc=1, flag=[0.30, 0.55, 0.10], logged=0.05,
                count=160, serror=0.7, rerror=0.1, same=0.2, host=250),
    "Probe": dict(proto=[0.50, 0.20, 0.30], svc=5, flag=[0.45, 0.10, 0.35], logged=0.05,
                  count=40, serror=0.1, rerror=0.55, same=0.3, host=200),
    "R2L": dict(proto=[0.90, 0.08, 0.02], svc=4, flag=[0.80, 0.05, 0.10], logged=0.5,
                count=4, serror=0.05, rerror=0.1, same=0.8, host=60),
    "U2R": dict(proto=[0.95, 0.04, 0.01], svc=8, flag=[0.85, 0.05, 0.05], logged=0.9,
                count=2, serror=0.02, rerror=0.05, same=0.9, host=20),
}


def _counts(marginals, rows):
    total = sum(marginals)
    c = [max(3, round(m * rows / total)) for m in marginals]
    c[0] += rows - sum(c)
    return c


def _rate(rng, mu, n):
    return np.clip(rng.normal(mu, 0.15, n), 0.0, 1.0)


def _fmt(x):
    return np.char.mod("%.2f", x)


def nslkdd_lines(seed, rows, marginals, part):
    """`rows` CSV lines (43 fields each) with the given labels5 marginals."""
    rng = np.random.default_rng([seed, 2, part])
    cats = np.concatenate([np.full(c, i) for i, c in enumerate(_counts(marginals, rows))])
    rng.shuffle(cats)
    n = len(cats)
    cols = [None] * 43
    ints = lambda x: np.char.mod("%d", x)
    proto, svc, flag, logged = (np.empty(n, dtype=object) for _ in range(4))
    count = np.zeros(n); serror = np.zeros(n); rerror = np.zeros(n)
    same = np.zeros(n); host = np.zeros(n); labels = np.empty(n, dtype=object)
    for ci, cat in enumerate(CATS):
        m = cats == ci
        k = int(m.sum())
        if k == 0:
            continue
        p = _PROFILE[cat]
        proto[m] = np.array(PROTOCOLS)[rng.choice(3, k, p=p["proto"])]
        # half the rows use the category's service, the rest any of the 70
        svc_i = np.where(rng.random(k) < 0.5, p["svc"], rng.integers(0, 70, k))
        svc[m] = np.array(SERVICES)[svc_i]
        rest = 1.0 - sum(p["flag"])
        fp = p["flag"] + [rest / 8] * 8
        flag[m] = np.array(FLAGS)[rng.choice(11, k, p=fp)]
        logged[m] = (rng.random(k) < p["logged"]).astype(int)
        count[m] = np.clip(rng.normal(p["count"], p["count"] * 0.5 + 2, k), 0, 511).round()
        serror[m] = _rate(rng, p["serror"], k)
        rerror[m] = _rate(rng, p["rerror"], k)
        same[m] = _rate(rng, p["same"], k)
        host[m] = np.clip(rng.normal(p["host"], 60, k), 0, 255).round()
        labels[m] = ["normal"] * k if cat == "normal" else \
            np.array(ATTACKS[cat])[rng.integers(0, len(ATTACKS[cat]), k)]
    u2r = cats == 4
    r2l = cats == 3
    cols[0] = ints(np.where(rng.random(n) < 0.9, 0, rng.integers(1, 5000, n)))
    cols[1], cols[2], cols[3] = proto.astype(str), svc.astype(str), flag.astype(str)
    cols[4] = ints(rng.integers(0, 2000, n) * (1 + 20 * (cats == 3)))
    cols[5] = ints(rng.integers(0, 8000, n) * (cats == 0))
    cols[6] = ints((rng.random(n) < 0.002).astype(int))
    cols[7] = ints(np.where(cats == 1, rng.integers(0, 3, n), 0))
    cols[8] = ints((rng.random(n) < 0.001).astype(int))
    cols[9] = ints(rng.poisson(0.2 + 2.0 * (r2l | u2r)))
    cols[10] = ints(rng.poisson(0.01 + 0.5 * r2l))
    cols[11] = ints(logged.astype(int))
    cols[12] = ints(rng.poisson(0.05 + 1.5 * u2r))
    cols[13] = ints((rng.random(n) < 0.002 + 0.5 * u2r).astype(int))
    # su_attempted is binary, with the stray 2.0 values of the real files
    su = (rng.random(n) < 0.003).astype(int)
    su[rng.random(n) < 0.0015] = 2
    cols[14] = np.char.mod("%.1f", su.astype(float))
    cols[15] = ints(rng.poisson(0.05 + 1.0 * u2r))
    cols[16] = ints(rng.poisson(0.02 + 1.0 * u2r))
    cols[17] = ints(rng.poisson(0.01 + 0.3 * u2r))
    cols[18] = ints(rng.poisson(0.02 + 0.3 * r2l))
    cols[19] = np.full(n, "0")  # num_outbound_cmds: constant in NSL-KDD
    cols[20] = ints((rng.random(n) < 0.001).astype(int))
    cols[21] = ints((rng.random(n) < 0.01 + 0.3 * r2l).astype(int))
    cols[22] = ints(count)
    cols[23] = ints(np.clip(count * rng.uniform(0.2, 1.0, n), 0, 511).round())
    cols[24] = _fmt(serror)
    cols[25] = _fmt(np.clip(serror + rng.normal(0, 0.05, n), 0, 1))
    cols[26] = _fmt(rerror)
    cols[27] = _fmt(np.clip(rerror + rng.normal(0, 0.05, n), 0, 1))
    cols[28] = _fmt(same)
    cols[29] = _fmt(np.clip(1 - same + rng.normal(0, 0.1, n), 0, 1))
    cols[30] = _fmt(_rate(rng, 0.1, n))
    cols[31] = ints(host)
    cols[32] = ints(np.clip(host * same, 0, 255).round())
    cols[33] = _fmt(np.clip(same + rng.normal(0, 0.1, n), 0, 1))
    cols[34] = _fmt(np.clip(1 - same + rng.normal(0, 0.1, n), 0, 1))
    cols[35] = _fmt(_rate(rng, 0.15 + 0.3 * (cats == 2), n))
    cols[36] = _fmt(_rate(rng, 0.05, n))
    cols[37] = _fmt(np.clip(serror + rng.normal(0, 0.05, n), 0, 1))
    cols[38] = _fmt(np.clip(serror + rng.normal(0, 0.05, n), 0, 1))
    cols[39] = _fmt(np.clip(rerror + rng.normal(0, 0.05, n), 0, 1))
    cols[40] = _fmt(np.clip(rerror + rng.normal(0, 0.05, n), 0, 1))
    cols[41] = labels.astype(str)
    cols[42] = ints(rng.integers(5, 22, n))
    out = cols[0]
    for c in cols[1:]:
        out = np.char.add(np.char.add(out, ","), c)
    return out.tolist()


def nslkdd(out_dir, seed, train_rows, test_rows):
    """Writes train.csv and test.csv; returns their paths."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for part, (name, rows, marg) in enumerate(
            [("train", train_rows, TRAIN_MARGINALS), ("test", test_rows, TEST_MARGINALS)]):
        p = os.path.join(out_dir, f"{name}.csv")
        with open(p, "w") as f:
            f.write("\n".join(nslkdd_lines(seed, rows, marg, part)) + "\n")
        paths.append(p)
    return paths
