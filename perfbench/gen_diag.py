#!/usr/bin/env python3
"""Seeded, deterministic N-node diagnostic-tree generator.

Writes the `<root>/nodes/<node-dir>/...` layout that `graft.DiagReport`
reads, and next to it `<root>.facts.json`: the numbers a correct report
must reproduce (node and table counts, GC event count and max pause,
tombstone events, total read and write requests, tab row counts).

Covered inputs: nodetool status (with one down node that has no
directory), gossipinfo, describecluster, info, version, cfstats (plus
one tablestats-only node), proxyhistograms, driver/schema, plain and
zipped `system.log` rotations, and `AdditionalLogs`.

The same arguments give a byte-identical tree: all randomness comes from
`--seed`, and zip members carry a fixed timestamp.

Usage: python3 gen_diag.py --seed 1 --nodes 24 --keyspaces 4 \
           --tables 10 --log-mb 24 --out /path/to/tree
"""
import argparse
import json
import os
import random
import zipfile

TP_TS = 1000            # Thresholds.tpTs: tombstone events below it are dropped
TH_DROPPED = 100000     # Thresholds.tpDrm
TH_TBLCNT = 155         # Thresholds.tpTblCnt
TH_LPAR = 100 * 1e6     # Thresholds.tpLparMb, in bytes
TH_SSTBL = 20           # Thresholds.tpSstbl
TH_LAT_MS = 100.0       # Thresholds.tpRlMs / tpWlMs
DCS = ["dc1", "dc2"]
RF = {"dc1": 3, "dc2": 2}
LOG_DAY0 = 1                        # log timestamps start on 2023-03-01
FILLER = [
    "INFO  [CompactionExecutor:{a}] {ts} CompactionTask.java:241 - Compacted ({h}) "
    "4 sstables to [/var/lib/cassandra/data/ks/tbl-{h}/nb-{b}-big,] to level=0. "
    "{a}.{b}MiB to {b}.{a}MiB (~{p}% of original) in {b}ms.",
    "INFO  [MemtableFlushWriter:{a}] {ts} Memtable.java:456 - Writing "
    "Memtable-tbl{a}@{h}({b}.{a}KiB serialized bytes, {b} ops, {p}%/0% of on/off-heap limit)",
    "DEBUG [ReadStage-{a}] {ts} ReadCallback.java:{b} - Timed out; received {a} of 2 "
    "responses for range {p} of {b}",
    "INFO  [ScheduledTasks:1] {ts} StatusLogger.java:{b} - Pool Name Active Pending "
    "Completed Blocked  ReadStage {a} {p} {h} 0",
]


def ts_str(sec):
    """Log wall-clock for `sec` seconds after 2023-03-01 00:00:00."""
    day, rem = divmod(sec, 86400)
    assert day < 28, "log span exceeds the month the timestamps are written in"
    h, rem = divmod(rem, 3600)
    m, s = divmod(rem, 60)
    return f"2023-03-{LOG_DAY0 + day:02d} {h:02d}:{m:02d}:{s:02d},{sec % 1000:03d}"


def write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(text)


def node_ip(i):
    return f"10.{i // 250 + 1}.{i % 250 // 10}.{i % 10 + 1}"


class Log:
    """Accumulates one system.log's lines and the facts they carry."""

    def __init__(self, rng, tables, t0):
        self.rng, self.tables, self.t = rng, tables, t0
        self.lines, self.bytes = [], 0
        self.gc, self.gc_max, self.ts_events = 0, 0, []

    def add(self, line):
        self.lines.append(line)
        self.bytes += len(line) + 1

    def fill(self, target_bytes, gc_rate=0.04, ts_rate=0.01):
        r = self.rng
        while self.bytes < target_bytes:
            self.t += r.randint(1, 7)
            ts = ts_str(self.t)
            u = r.random()
            if u < gc_rate:
                pause = r.randint(120, 2400)
                self.gc += 1
                self.gc_max = max(self.gc_max, pause)
                self.add(f"INFO  [Service Thread] {ts} GCInspector.java:284 - "
                         f"ParNew GC in {pause}ms.  CMS Old Gen: {r.randint(1, 900)} -> "
                         f"{r.randint(1, 900)}; Par Eden Space: {r.randint(1, 9999)} -> 0")
            elif u < gc_rate + ts_rate:
                ks, tbl = r.choice(self.tables)
                cells = r.randint(200, 60000)
                reads = r.randint(1, 5000)
                if cells >= TP_TS:
                    self.ts_events.append((ks, tbl, cells))
                self.add(f"WARN  [ReadStage-{r.randint(1, 32)}] {ts} ReadCommand.java:576 - "
                         f"Read {reads} live rows and {cells} tombstone cells for query "
                         f"SELECT * FROM {ks}.{tbl} WHERE token(id) > {r.randint(0, 10**9)} "
                         f"LIMIT 5000 (see tombstone_warn_threshold)")
            else:
                self.add(r.choice(FILLER).format(
                    ts=ts, a=r.randint(1, 99), b=r.randint(100, 9999),
                    p=r.randint(1, 99), h=f"{r.getrandbits(32):08x}"))

    def text(self):
        return "\n".join(self.lines) + "\n"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--nodes", type=int, required=True)
    ap.add_argument("--keyspaces", type=int, required=True)
    ap.add_argument("--tables", type=int, required=True, help="tables per keyspace")
    ap.add_argument("--log-mb", type=float, required=True,
                    help="total system.log bytes over all nodes, half zipped")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    rng = random.Random(a.seed)
    root = a.out
    n = a.nodes

    cluster = f"bench_cluster_{a.seed}"
    nodes = []  # (dir, ip, dc, uptime)
    for i in range(n):
        ip = node_ip(i)
        # mixed dir naming exercises the dir -> ip normalization
        d = ip.replace(".", "_") if i % 2 == 0 else ip
        nodes.append((d, ip, DCS[i % len(DCS)], rng.randint(3600, 90 * 86400)))
    down_ip = node_ip(n)

    # ---------------------------------------------------------------- schema
    keyspaces = [f"ks{k:02d}" for k in range(a.keyspaces)]
    tables = [(ks, f"t{t:03d}") for ks in keyspaces for t in range(a.tables)]
    ddl = []
    for ks in keyspaces:
        reps = ", ".join(f"'{dc}': '{RF[dc]}'" for dc in DCS)
        ddl.append(f"CREATE KEYSPACE {ks} WITH replication = {{'class': "
                   f"'NetworkTopologyStrategy', {reps}}}  AND durable_writes = true;\n")
    ddl.append("CREATE KEYSPACE system_auth WITH replication = {'class': "
               "'SimpleStrategy', 'replication_factor': '1'};\n")
    for j, (ks, tbl) in enumerate(tables):
        cols = "".join(f"    c{c:02d} text,\n" for c in range(rng.randint(2, 12)))
        ddl.append(f"CREATE TABLE {ks}.{tbl} (\n    id uuid,\n    ts timestamp,\n{cols}"
                   f"    PRIMARY KEY (id, ts)\n) WITH CLUSTERING ORDER BY (ts ASC)\n"
                   f"    AND bloom_filter_fp_chance = 0.01;\n")
        if j % 7 == 3:
            ddl.append(f"CREATE INDEX {tbl}_c00_idx ON {ks}.{tbl} (c00);\n")
        if j % 11 == 5:
            ddl.append(f"CREATE MATERIALIZED VIEW {ks}.{tbl}_by_ts AS\n"
                       f"    SELECT * FROM {ks}.{tbl}\n    WHERE ts IS NOT NULL\n"
                       f"    PRIMARY KEY (ts, id);\n")
    schema = "\n".join(ddl)

    # -------------------------------------------------------- cluster files
    status = []
    for dc in DCS:
        status.append(f"Datacenter: {dc}\n=======================\nStatus=Up/Down\n"
                      "|/ State=Normal/Leaving/Joining/Moving\n"
                      "--  Address   Load       Tokens  Owns    Host ID   Rack")
        for i, (_, ip, ndc, _) in enumerate(nodes):
            if ndc == dc:
                status.append(f"UN  {ip}  {rng.randint(10, 900)}.{rng.randint(0, 9)} GiB  "
                              f"256     {rng.randint(1, 99)}.0%   "
                              f"{i:08d}-0000-0000-0000-000000000000  rack{i % 3 + 1}")
        if dc == DCS[-1]:
            status.append(f"DN  {down_ip}  1.0 GiB  256     0.0%   "
                          f"{n:08d}-0000-0000-0000-000000000000  rack1")
    status = "\n".join(status) + "\n"
    gossip = []
    for i, (_, ip, dc, _) in enumerate(nodes):
        gossip.append(f"/{ip}\n  generation:{1677000000 + i}\n  heartbeat:{rng.randint(1, 99999)}\n"
                      f"  STATUS:14:NORMAL,-{rng.randint(1, 10**9)}\n  DC:8:{dc}\n"
                      f"  RACK:10:rack{i % 3 + 1}\n  RELEASE_VERSION:4:4.0.11")
        if i % 5 == 4:
            gossip.append('  X_11_PADDING:36:{"workload":"Cassandra","graph":false,'
                          '"dse_version":"6.8.25"}')
    gossip = "\n".join(gossip) + "\n"
    describe = (f"Cluster Information:\n\tName: {cluster}\n\tSnitch: "
                "org.apache.cassandra.locator.GossipingPropertyFileSnitch\n"
                "\tPartitioner: org.apache.cassandra.dht.Murmur3Partitioner\n")
    proxy_hdr = ("proxy histograms\nPercentile       Read Latency      Write Latency     "
                 "Range Latency\n                     (micros)           (micros)          (micros)\n")

    # ------------------------------------------------------- per-node files
    n_tbl_total = len(tables) + 2 + 3   # + system_auth tables + "Total number of tables" row
    reads = writes = size = 0.0
    th_rows = {"dropped_mutation": 0, "large_partition": 0, "read_latency": 0,
               "write_latency": 0}
    sstbl_tables = set()
    tblcnt_hit = False
    gc_total, gc_max = 0, 0
    gc_nodes, gc_dcs = set(), set()
    ts_events = []
    log_bytes_per_node = a.log_mb * 1e6 / n
    tablestats_node = n // 2
    for i, (d, ip, dc, uptime) in enumerate(nodes):
        base = os.path.join(root, "nodes", d)
        write(f"{base}/nodetool/status", status)
        write(f"{base}/nodetool/gossipinfo", gossip)
        write(f"{base}/nodetool/describecluster", describe)
        write(f"{base}/nodetool/version", "ReleaseVersion: 4.0.11\n")
        write(f"{base}/nodetool/info",
              f"ID                     : {i:08d}\nGossip active          : true\n"
              f"Uptime (seconds)       : {uptime}\n"
              f"Heap Memory (MB)       : 1024.00 / 8192.00\n"
              f"Data Center            : {dc}\nRack                   : rack{i % 3 + 1}\n")
        # cfstats: every table on every node, with positive counts
        tot_tables = rng.choice([n_tbl_total, TH_TBLCNT + 10]) if i % 9 == 0 else n_tbl_total
        tblcnt_hit |= tot_tables >= TH_TBLCNT
        cf = [f"Total number of tables: {tot_tables}", "----------------"]
        for ks in keyspaces + ["system_auth"]:
            cf.append(f"Keyspace : {ks}\n\tRead Count: {rng.randint(1, 10**6)}\n"
                      f"\tWrite Count: {rng.randint(1, 10**6)}")
            tbls = [t for (k, t) in tables if k == ks] if ks != "system_auth" else ["roles", "role_members"]
            for tbl in tbls:
                rc, wc = rng.randint(1, 5 * 10**6), rng.randint(1, 5 * 10**6)
                sp = rng.randint(10**5, 5 * 10**9)
                sst = rng.randint(1, 24)
                # a few percent of tables cross each threshold
                hot = rng.random()
                lpar = rng.randint(10**4, 3 * 10**8 if hot < 0.03 else 5 * 10**7)
                drop = rng.randint(1, 300000) if hot > 0.97 else 0
                rl = round(rng.uniform(0.05, 180.0 if hot < 0.05 else 20.0), 3)
                wl = round(rng.uniform(0.01, 180.0 if hot > 0.95 else 10.0), 3)
                cf.append(f"\tTable: {tbl}\n\t\tSSTable count: {sst}\n"
                          f"\t\tSpace used (live): {sp}\n\t\tLocal read count: {rc}\n"
                          f"\t\tLocal write count: {wc}\n\t\tLocal read latency: {rl} ms\n"
                          f"\t\tLocal write latency: {wl} ms\n"
                          f"\t\tCompacted partition maximum bytes: {lpar}\n"
                          f"\t\tDropped Mutations: {drop}\n")
                if ks == "system_auth":
                    continue
                reads += rc / RF[dc]
                writes += wc / sum(RF.values())
                size += sp / sum(RF.values())
                th_rows["dropped_mutation"] += drop >= TH_DROPPED
                th_rows["large_partition"] += lpar >= TH_LPAR
                th_rows["read_latency"] += rl >= TH_LAT_MS
                th_rows["write_latency"] += wl >= TH_LAT_MS
                if sst >= TH_SSTBL:
                    sstbl_tables.add((ks, tbl))
            cf.append("----------------")
        kind = "tablestats" if i == tablestats_node else "cfstats"
        write(f"{base}/nodetool/{kind}", "\n".join(cf) + "\n")
        write(f"{base}/nodetool/proxyhistograms", proxy_hdr + "".join(
            f"{p:<16} {rng.uniform(50, 30000):>14.2f} {rng.uniform(20, 20000):>17.2f} "
            f"{rng.uniform(20, 2000):>17.2f}\n"
            for p in ["50%", "75%", "95%", "98%", "99%", "Min", "Max"]))
        if i == 0:
            write(f"{base}/driver/schema", schema)

        # logs: an older zipped rotation and the live plain log, about
        # equal in size; every fourth node also ships an AdditionalLogs copy
        old = Log(rng, tables, 0)
        old.fill(log_bytes_per_node / 2)
        live = Log(rng, tables, old.t)
        live.fill(log_bytes_per_node / 2)
        logs = [old, live]
        zpath = f"{base}/logs/cassandra/system.log.1.zip"
        os.makedirs(os.path.dirname(zpath), exist_ok=True)
        with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
            z.writestr(zipfile.ZipInfo("system.log.1", date_time=(2023, 3, 1, 0, 0, 0)),
                       old.text())
        write(f"{base}/logs/cassandra/system.log", live.text())
        if i % 4 == 1:
            extra = Log(rng, tables, live.t)
            extra.fill(2000, gc_rate=0.3, ts_rate=0.1)
            logs.append(extra)
            write(os.path.join(root, "AdditionalLogs", d, "var/log/cassandra/system.log"),
                  extra.text())
        for lg in logs:
            if lg.gc:
                gc_nodes.add(d)
                gc_dcs.add(dc)
            gc_total += lg.gc
            gc_max = max(gc_max, lg.gc_max)
            ts_events += lg.ts_events

    ts_tables = {(k, t) for (k, t, _) in ts_events}
    facts = {
        "cluster": cluster,
        "node_dirs": n,
        "status_nodes": n + 1,
        "tables": len(tables),
        "gc_events": gc_total,
        "gc_max_ms": gc_max,
        "tombstone_events": len(ts_events),
        "tombstone_tables": len(ts_tables),
        "tombstone_max": max((c for (_, _, c) in ts_events), default=0),
        "total_reads": reads,
        "total_writes": writes,
        "total_size": size,
        "rows": {
            "node_table": n + 1,
            "workload": len(tables),
            "gc_pauses": (1 if gc_total else 0) + len(gc_dcs) + len(gc_nodes),
            "tombstones": len(ts_tables),
            "threshold_tabs": sum(th_rows.values()) + len(sstbl_tables) + int(tblcnt_hit),
        },
    }
    with open(root.rstrip("/") + ".facts.json", "w") as f:
        json.dump(facts, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
