#!/usr/bin/env python3
"""Reproducible sf1 decade sweep: generate sf1 (= 10 join-consistent
copies of the driver's sf0.1, via gen_sf.py) if absent, run graft.Bench
at sf0.1 and sf1, and emit per-query decade ratios as JSON plus a
markdown table for SCALE_AUDIT's manual section. Pass a prior round's
JSON to get a side-by-side ratio comparison column.

--organic uses gen_sf.py --organic (new-content growth: stable dup
factor, distinct p_names, orthogonally-shifted embeddings) into
localdata/sf1_organic — the readable decade ratio for the dup-bound
operators, alongside the default dup-stress sweep.

Known-debt tail queries (the big allocators whose in-sweep numbers
have been GC-contaminated by their predecessors in every sweep since
r9 — q88 189 s in-sweep vs 41 s isolated was the chronic case) run
ONE-PER-JVM via `graft.tools.Probe time` and their isolated min
replaces the in-sweep figure in `queries`/`ratios`, so the artifact
the >2x-ratio gate reads is right by construction. The raw in-sweep
numbers are preserved under `insweep_queries`; the spliced names are
listed under `isolated`. Override the default debt list with
--isolate q88_containment,q19_minhash_lsh (--isolate= none disables).

Usage:
  python3 tools/decade_sweep.py out.json [prior.json] [--organic]
      [--isolate q1,q2|none]

Prereq: sbt -batch compile (runs from target/scala-2.13/classes).
"""
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF01 = "/root/testdata/sf0.1"
ORGANIC = "--organic" in sys.argv
sys.argv = [a for a in sys.argv if a != "--organic"]
# the chronic debt tail: q88's containment pair scan (GC-contaminated
# in-sweep every round since r9), q19's minhash banding (organic-sweep
# creep, adjudicated run debt in r13), q40's HLL distinct (flagged in
# the r13 dup-stress sweep at 9.83 in-sweep vs 1.57 isolated)
ISOLATE = ["q88_containment", "q19_minhash_lsh", "q40_approx_distinct"]
for a in list(sys.argv):
    if a.startswith("--isolate"):
        i = sys.argv.index(a)
        if "=" in a:
            val = a.split("=", 1)[1]
            del sys.argv[i]
        else:
            # delete by INDEX: .remove(val) would strip the first argv
            # element EQUAL to the value (e.g. a path that happens to
            # match), shifting positional args
            val = sys.argv[i + 1]
            del sys.argv[i:i + 2]
        ISOLATE = [] if val == "none" else val.split(",")
SF1 = os.path.join(REPO, "localdata", "sf1_organic" if ORGANIC else "sf1")

ADD_OPENS = [
    "--add-opens=java.base/java.lang=ALL-UNNAMED",
    "--add-opens=java.base/java.lang.invoke=ALL-UNNAMED",
    "--add-opens=java.base/java.nio=ALL-UNNAMED",
    "--add-opens=java.base/java.util=ALL-UNNAMED",
    "--add-opens=java.base/sun.nio.ch=ALL-UNNAMED",
    "--add-opens=java.base/sun.util.calendar=ALL-UNNAMED",
    "--add-opens=java.base/sun.security.action=ALL-UNNAMED",
]


def ensure_sf1():
    if not os.path.isdir(SF1) or not os.path.exists(
            os.path.join(SF1, "lineitem.parquet")):
        os.makedirs(SF1, exist_ok=True)
        print(f"generating {SF1} = 10x {SF01} ...", flush=True)
        subprocess.run([sys.executable,
                        os.path.join(REPO, "tools", "gen_sf.py"),
                        SF01, SF1, "10"]
                       + (["--organic"] if ORGANIC else []), check=True)


def run_bench(sf_dir):
    # match the driver's bench conditions: local[32] unless overridden
    # GC between timed queries + a roomy heap: without them, the big
    # allocators' collection debt lands on whichever queries run next
    # (measured 15x inflation on q05 at sf1) and ratios stop meaning
    # anything
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir,
               SPARK_GRAFT_CPUS=os.environ.get("SPARK_GRAFT_CPUS", "32"),
               SPARK_GRAFT_GC_BETWEEN="1",
               SPARK_GRAFT_BENCH_LEGS="1")
    cp = os.path.join(REPO, "target", "scala-2.13", "classes") \
        + ":/opt/spark/jars/*"
    out = subprocess.run(
        ["java", "-XX:+IgnoreUnrecognizedVMOptions", "-Xmx96g",
         *ADD_OPENS, "-cp", cp, "graft.Bench"],
        env=env, cwd=REPO, capture_output=True, text=True, check=True)
    queries, total = {}, None
    for line in out.stdout.splitlines():
        line = line.strip()
        if not line.startswith("{"):
            continue
        j = json.loads(line)
        if j.get("queries"):
            queries = j["queries"]
        if j.get("metric") == "total":
            total = j["value"]
    if not queries or total is None:
        sys.exit(f"bench at {sf_dir} produced no parsable output:\n"
                 + out.stdout[-2000:])
    return queries, total


def run_isolated(sf_dir, names, reps=3):
    """One fresh JVM per debt query (`graft.tools.Probe time`): the
    isolated protocol, min of `reps` warm reps per query."""
    out = {}
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir,
               SPARK_GRAFT_CPUS=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    cp = os.path.join(REPO, "target", "scala-2.13", "classes") \
        + ":/opt/spark/jars/*"
    for name in names:
        r = subprocess.run(
            ["java", "-XX:+IgnoreUnrecognizedVMOptions", "-Xmx96g",
             *ADD_OPENS, "-cp", cp, "graft.tools.Probe", "time",
             name, str(reps)],
            env=env, cwd=REPO, capture_output=True, text=True, check=True)
        for line in r.stdout.splitlines():
            if line.startswith("PROFILE") and name in line:
                out[name] = float(line.rsplit("min=", 1)[1])
        if name not in out:
            sys.exit(f"Probe time produced no row for {name}:\n"
                     + r.stdout[-2000:])
        print(f"  isolated {name}: {out[name]:.2f} s", flush=True)
    return out


def main():
    out_path = sys.argv[1]
    prior = json.load(open(sys.argv[2])) if len(sys.argv) > 2 else None
    ensure_sf1()
    print("bench sf0.1 ...", flush=True)
    q01, bench_t01 = run_bench(SF01)
    print(f"  total {bench_t01:.1f} s", flush=True)
    print("bench sf1 ...", flush=True)
    q1, bench_t1 = run_bench(SF1)
    print(f"  total {bench_t1:.1f} s", flush=True)
    # splice the debt tail's isolated numbers over the in-sweep ones
    # (both SFs, same protocol) so `ratios` is right by construction;
    # keep the raw in-sweep figures for the record
    insweep01, insweep1 = dict(q01), dict(q1)
    isolate = [n for n in ISOLATE if n in q1 and n in q01]
    if isolate:
        print("isolated debt tail, sf0.1 ...", flush=True)
        q01.update(run_isolated(SF01, isolate))
        print("isolated debt tail, sf1 ...", flush=True)
        q1.update(run_isolated(SF1, isolate))

    ratios = {k: (q1[k] / q01[k] if q01.get(k) else None)
              for k in sorted(q1) if k in q01}
    # totals derive the SAME way spliced or not (sum of the recorded
    # per-query values), so total_ratio is comparable round over round;
    # Bench's own single-leg totals ride along under bench_total
    t01, t1 = sum(q01.values()), sum(q1.values())
    result = {"sf01": {"queries": q01, "total": t01,
                       "bench_total": bench_t01},
              "sf1": {"queries": q1, "total": t1,
                      "bench_total": bench_t1},
              "insweep_queries": {"sf01": insweep01, "sf1": insweep1},
              "isolated": isolate,
              "ratios": ratios,
              "total_ratio": t1 / t01}
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    print(f"\nwrote {out_path}")
    print(f"\n**Total: {t01:.1f} s (sf0.1) → {t1:.1f} s (sf1) = "
          f"{t1 / t01:.1f}× wall for 10× data**\n")
    hdr = "| query | sf0.1 s | sf1 s | decade ratio |"
    sep = "| --- | --- | --- | --- |"
    if prior:
        hdr += " prior ratio |"
        sep += " --- |"
    print(hdr)
    print(sep)
    worst = sorted(ratios.items(), key=lambda kv: -(kv[1] or 0))
    for k, r in worst:
        row = f"| {k} | {q01[k]:.2f} | {q1[k]:.2f} | {r:.1f}× |"
        if prior:
            pr = prior.get("ratios", {}).get(k)
            row += f" {pr:.1f}× |" if pr is not None else " — |"
        print(row)


if __name__ == "__main__":
    main()
