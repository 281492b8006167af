#!/usr/bin/env python3
"""Records perfbench/gate_expected.tsv, the gate_sf01 correctness reference.

Runs every SparkEntry.queries entry once on the sf0.1 tables (the JVM's
GateRecord main), writing each output as parquet together with the row
count and content digest observed on that same write, then replays the
DuckDB oracle over those outputs with scripts/check.py. The table is
written only if every entry matches its oracle, so each recorded digest is
the digest of an oracle-exact output.

    python3 perfbench/record_gate.py <work dir>

Keeps the module column and the `pass` marks of an existing table; a new
entry gets the module of the object that owns its SparkEntry function.
"""
import os
import re
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

TABLE = os.path.join(build.ROOT, "perfbench", "gate_expected.tsv")
HEADER = ("# name\tmodule\trows\tdigest\tpass|-\n"
          "# Recorded by perfbench/record_gate.py; entries marked `pass` run in\n"
          "# gate_sf01's measured pass, all of them under --all-entries.\n")
OBJECT_MODULE = {"TripleStore": "triplestore", "Lww": "lww", "LwwObject": "lww",
                 "Relational": "relational", "Temporal": "temporal",
                 "Skew": "skew", "Docs": "docs", "BloomIndex": "docs",
                 "Vectors": "vectors", "Graph": "graph",
                 "Multimodal": "multimodal", "ZOrderKey": "plans",
                 "RangeBucket": "plans", "StreamingGate": "streaming"}


# entries whose first referenced object only feeds the operation that
# defines them
OWNER = {"q12_lww_udaf": "lww", "q13_shard_filter": "lww",
         "q31_bucketed_merge": "lww", "q32_sql_merge": "lww",
         "q34_range_bucket": "plans"}


def guess_module(name):
    if name in OWNER:
        return OWNER[name]
    src = open(os.path.join(build.ROOT, "src", "main", "scala", "graft",
                            "SparkEntry.scala")).read()
    m = re.search(r'"%s"\s*->\s*(.*?)\n\s*(?:"q|\))' % re.escape(name), src, re.S)
    body = re.sub(r"//.*", "", m.group(1)) if m else ""
    objs = re.findall(r"\b(%s)\." % "|".join(OBJECT_MODULE), body)
    return OBJECT_MODULE[objs[0]] if objs else "unassigned"


def write_table(out):
    """Writes the table from a recorded `out` dir, keeping existing modules
    and `pass` marks."""
    old = {}
    if os.path.exists(TABLE):
        for line in open(TABLE):
            if not line.startswith("#"):
                f = line.rstrip("\n").split("\t")
                old[f[0]] = f
    rows = []
    for line in open(os.path.join(out, "digests.tsv")):
        name, n, digest = line.rstrip("\n").split("\t")
        prev = old.get(name)
        module = prev[1] if prev else guess_module(name)
        mark = prev[4] if prev else "-"
        rows.append("\t".join([name, module, n, digest, mark]))
    with open(TABLE, "w") as f:
        f.write(HEADER + "\n".join(rows) + "\n")


def main(work):
    out = os.path.join(os.path.abspath(work), "out")
    tmp = os.path.join(os.path.abspath(work), "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ([build.java(), "-Xmx4g", "-Xss8m", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + tmp]
           + [a for p in run.ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", build.build() + os.pathsep + os.path.join(build.spark_jars(), "*"),
              "perfbench.GateRecord", gen.sf_dir(), out])
    subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    check = subprocess.run([sys.executable, os.path.join(build.ROOT, "scripts", "check.py"),
                            out, gen.sf_dir()], stdout=subprocess.PIPE, text=True)
    print(check.stdout)
    if check.returncode != 0:
        sys.exit("some entries do not match their DuckDB oracle; table not written")
    write_table(out)


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else os.path.join(build.BUILD, "record"))
