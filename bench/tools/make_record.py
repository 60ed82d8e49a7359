#!/usr/bin/env python3
"""Build bench/record/query_mix.tsv, the checked results of `query_mix`.

Runs the mix once in Spark (bench.Record: input tables, oracle SQL, each
query's row count and content hash), runs each query's
`SparkEntry.oracleSql` text in DuckDB over the same tables, and writes the
record only if every oracle-checked query agrees on rows and hash. For the
two approximate ANN rows it records the oracle's top-k pairs, which runs
check by recall against `recall_floor`.

Usage, from the root of a checkout: python3 bench/tools/make_record.py
"""
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402  (bench/run.py: build + JVM options)

import duckdb  # noqa: E402

RECALL_FLOOR = 0.9
APPROXIMATE = {"ann_ivfpq_exhaustive", "ann_ivf_exhaustive"}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def canon(val):
    # scripts/local_gate.py's canonical cell: floats to 9 significant digits
    if val is None:
        return ""
    if isinstance(val, float):
        if val != val:
            return "nan"
        return format(val, ".9g")
    if isinstance(val, bytes):
        return val.hex()
    if isinstance(val, list):
        return "[" + ",".join(canon(v) for v in val) + "]"
    return str(val)


def frame_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode("utf-8", "surrogatepass"))
        h.update(b"\n")
    return h.hexdigest()


def main():
    cp = run.build(run.source_digest())
    out = os.path.join(run.BUILD, "record")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={os.path.join(out, 'tmp')}",
           "-Dlog4j2.configurationFile=" + os.path.join(run.BENCH, "log4j2.properties")]
    for pkg in run.ADD_OPENS:
        cmd += ["--add-opens", f"{pkg}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "bench.Record", out, "4"]
    subprocess.run(cmd, cwd=out, check=True, timeout=900)

    oracles = json.load(open(os.path.join(out, "oracle_sql.json")))
    con = duckdb.connect()
    for t in TABLES:
        files = os.path.join(out, "data", f"{t}.parquet", "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{files}')")
    record, bad = ["recall_floor\t%s" % RECALL_FLOOR], []
    for line in open(os.path.join(out, "spark.tsv")):
        q, n, h, pairs = line.rstrip("\n").split("\t")
        cur = con.execute(oracles[q])
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        if q in APPROXIMATE:
            qi, ci = cols.index("query_id"), cols.index("corpus_id")
            want = {(int(r[qi]), int(r[ci])) for r in rows}
            got = {tuple(int(x) for x in p.split(":")) for p in pairs.split(",") if p}
            recall = len(want & got) / len(want) if want else 0.0
            print(f"{q}: recall {recall:.3f} over {len(want)} oracle pairs")
            if recall < RECALL_FLOOR:
                bad.append(q)
            record.append(f"{q}\ttopk\t" + ",".join(f"{a}:{b}" for a, b in sorted(want)))
        else:
            oh = frame_hash(cols, rows)
            ok = int(n) == len(rows) and oh == h
            print(f"{q}: rows spark={n} duckdb={len(rows)} hash {'match' if ok else 'MISMATCH'}")
            if not ok:
                bad.append(q)
            record.append(f"{q}\trows\t{len(rows)}\t{oh}")
    if bad:
        raise SystemExit("oracle disagreement: " + ", ".join(bad))
    path = os.path.join(run.BENCH, "record", "query_mix.tsv")
    with open(path, "w") as f:
        f.write("# query_mix results, DuckDB-checked by bench/tools/make_record.py\n")
        f.write("\n".join(record) + "\n")
    shutil.rmtree(out, ignore_errors=True)
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
