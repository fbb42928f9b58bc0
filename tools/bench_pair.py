#!/usr/bin/env python3
"""One-command matched-pair benchmark: run the Spark suite (graft.Bench)
and the DuckDB 1.0 oracle back-to-back on the SAME machine, SAME sf
parquet, SAME git tree, and write ONE artifact with both totals and both
per-query maps — so every headline ratio is reproducible from a single
committed file instead of two runs stitched together by prose
(round 6's 189.9s-vs-200.5s ambiguity).

The DuckDB side is delegated to tools/duck_bench_guarded.py so there is
exactly ONE timing protocol in the repo: both engines get a warm-up then
min-of-2 timed reps, and DuckDB times `SELECT count(*) FROM (<sql>)` —
the fair mirror of the Spark side's `df.count()`, under which Catalyst
prunes the final projection and result-only sorts (round-7's ADVICE
flagged the earlier fetchall-1-rep DuckDB protocol as biased in Spark's
favor). Each statement runs in its own subprocess with a kill budget, so
a hang or crash loses one statement, not the artifact.

Usage: python3 tools/bench_pair.py [sfdir] [out_json] [budget_sec=300]
                                   [small_pair_json]
  sfdir    default /root/testdata/sf0.1
  out_json default target/bench_pair.json
  small_pair_json  the same round's completed smaller-sf pair artifact
           (release_gate passes step3's sf0.1 pair to step5): any query
           whose IN-SUITE growth vs that artifact approaches the scale
           gate's ceiling is re-measured in a fresh JVM and recorded in
           spark.isolation, so the gate never fails on a
           suite-contaminated number without an isolated measurement
           in the committed artifact (q151 r11: in-suite 2.7s after a
           heavy neighbor vs 0.58s isolated — the warm-bound variance
           guard is blind when the warm pass is slow too).

Steps (each logged):
  1. sbt "runMain graft.Bench"        -> target/bench_detail.json
     (also stages the q46/q47/q74 pipeline parquet for this sf dir)
  2. sbt "runMain graft.DumpOracle target/oracle_sql.json <sfdir>"
  3. python3 tools/duck_bench_guarded.py <sfdir> oracle detail out
     -> the single pair artifact {tree_sha, sf, spark{...}, duckdb{...},
        ratio}

Both engines run the identical statement list: Bench times every
SparkEntry.queries entry; the oracle file carries one statement per
query (DumpOracle). A query missing on either side is reported, not
silently dropped from the other's total.
"""
import sys, os, json, time, subprocess

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
OUT = sys.argv[2] if len(sys.argv) > 2 else os.path.join(REPO, "target/bench_pair.json")
BUDGET = sys.argv[3] if len(sys.argv) > 3 else "300"
SMALL_PAIR = sys.argv[4] if len(sys.argv) > 4 else None
# Growth-probe trigger: 0.8x of scale_gate's 12x ceiling, so any query
# that could plausibly gate gets an isolated number in the artifact.
GROWTH_TRIGGER = 9.6
MIN_SEC = 1.0  # sub-second queries can't move the gate materially
FLOOR = 0.15   # scale_gate's small-side materiality floor


def log(msg):
    print(f"[bench-pair] {msg}", flush=True)


def run_sbt(main_and_args):
    cmd = ["sbt", "-batch", f"runMain {main_and_args}"]
    log(" ".join(cmd))
    r = subprocess.run(cmd, cwd=REPO, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"sbt failed: {main_and_args}")
    return r.stdout


def main():
    # --- 1. Spark side -------------------------------------------------
    log(f"Spark bench (SPARK_GRAFT_SF_DIR={SF}) ...")
    os.environ["SPARK_GRAFT_SF_DIR"] = SF
    t0 = time.time()
    run_sbt("graft.Bench")
    spark_wall = round(time.time() - t0, 1)
    detail_path = os.path.join(REPO, "target/bench_detail.json")
    detail = json.load(open(detail_path))
    spark_q = detail["detail"]
    log(f"Spark: {round(sum(spark_q.values()), 3)}s over {len(spark_q)} "
        f"queries (wall {spark_wall}s incl. warmups/JVM)")

    # --- 2. Oracle statements (staged roots now exist for this sf) -----
    oracle_path = os.path.join(REPO, "target/oracle_sql.json")
    run_sbt(f"graft.DumpOracle {oracle_path} {SF}")

    # --- 3. DuckDB side + artifact (single shared protocol) ------------
    guarded = os.path.join(REPO, "tools/duck_bench_guarded.py")
    log(f"DuckDB guarded bench (budget {BUDGET}s/statement) ...")
    r = subprocess.run([sys.executable, guarded, SF, oracle_path,
                        detail_path, OUT, BUDGET], cwd=REPO)
    if r.returncode != 0:
        raise SystemExit("duck_bench_guarded failed")
    out = json.load(open(OUT))

    # --- 4. isolation probes (adjudicated queries only) -----------------
    # A query whose in-suite small-sf time is deflated by suite-warm
    # caches (q204's r10 story: 1.40s in-suite vs 2.05s isolated at
    # sf0.1 -> a phantom 13.6x growth vs the real 9.2x) gets a FRESH-JVM
    # graft.Probe --time measurement recorded IN the pair artifact, so
    # scale_gate can adjudicate the in-suite/isolation discrepancy from
    # committed numbers instead of prose. The probe list is committed in
    # tools/adjudications.json ("isolation_probes").
    adj_path = os.path.join(REPO, "tools/adjudications.json")
    probes = []
    if os.path.exists(adj_path):
        probes = json.load(open(adj_path)).get("isolation_probes", [])
    probes = [p for p in probes if p in out["spark"]["queries"]]
    # Growth-triggered probes: with the same round's smaller-sf pair in
    # hand, any query whose in-suite growth approaches the gate ceiling
    # is re-measured isolated — the suite-contamination class (q151)
    # hits the warm pass too, so the in-run variance guard can't see it.
    if SMALL_PAIR and os.path.exists(SMALL_PAIR):
        small_q = json.load(open(SMALL_PAIR)).get(
            "spark", {}).get("queries", {})
        grown = sorted(
            n for n, t in out["spark"]["queries"].items()
            if n not in probes and t >= MIN_SEC
            and small_q.get(n, 0.0) >= FLOOR
            and t / small_q[n] > GROWTH_TRIGGER)
        if grown:
            log(f"growth-triggered isolation probes (in-suite growth > "
                f"{GROWTH_TRIGGER}x vs {SMALL_PAIR}): {', '.join(grown)}")
            probes += grown
        out["spark"]["isolation_rule"] = (
            f"explicit adjudications list + any query >= {MIN_SEC}s "
            f"whose in-suite growth vs {os.path.relpath(SMALL_PAIR, REPO)} "
            f"exceeds {GROWTH_TRIGGER}x (0.8x of the 12x gate ceiling)")
    if probes:
        log(f"isolation probes (fresh JVM): {', '.join(probes)}")
        txt = run_sbt(f"graft.Probe --time {SF} {' '.join(probes)}")
        iso = {}
        for line in txt.splitlines():
            if "[time-one]" in line:
                try:
                    name, sec = line.split("[time-one]")[1].split(":")
                    iso[name.strip()] = float(sec.strip().rstrip(" s"))
                except ValueError:
                    pass
        out["spark"]["isolation"] = iso
    if probes or "isolation_rule" in out["spark"]:
        json.dump(out, open(OUT, "w"), indent=1)

    log(f"wrote {OUT}")
    print(json.dumps({
        "metric": out["metric"], "tree_sha": out["tree_sha"],
        "sf": out["sf"], "common_n": out["common_n"],
        "spark_over_duckdb": out["spark_over_duckdb"],
        "spark_total": out["spark"]["total_sec"],
        "duckdb_total": out["duckdb"]["total_sec"]}))


if __name__ == "__main__":
    main()
