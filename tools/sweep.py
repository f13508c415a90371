#!/usr/bin/env python3
"""Two-SF scaling sweep: run graft.Bench at a base and a scaled SF dir,
join the per-query medians, and print a ratio table (worst first).

Usage: python3 tools/sweep.py [baseDir] [scaledDir] [runs] [factor] [refSweep]
Defaults: /root/testdata/sf0.1  /tmp/sf1  2  10  <auto: newest SWEEP100_r*.txt>

The scaled corpus is generated with `sbt "runMain graft.tools.ScaleUp
<base> <scaled> <factor>"` if the directory is missing. At 100x
(sf10) export SPARK_DRIVER_MEM=48g: the embedding-heavy queries
(semantic dedup's trained codebook in particular) exhaust the default
8g driver heap - the JVM dies on GCLocker starvation with exit 52
mid-suite, which sweep reports as -1.0 entries. Output doubles as
the PLANS.md evidence table — a query whose ratio exceeds the data ratio
is a superlinear suspect (unless its OUTPUT grows superlinearly; check
row counts before blaming the plan).

OUTLIER AUTO-PROBE (the r9 adjudication protocol, mechanized): every
round's sweep surfaced suite-neighbor interference — a query slow only
because of what ran before it in the shared JVM, reproducing its old
time in isolation. Any query whose ratio exceeds its reference-sweep
ratio (previous round's SWEEP100 artifact, parsed from the table) by
>1.5x is re-run ONCE in a fresh JVM at the scaled dir before being
believed; the table then carries an `isolated_s` column for those
queries, and the final verdict column uses min(suite, isolated).
Probes additionally fire for any ratio >= the 25x absolute floor and
for the top-3 ratios regardless of floor, and each probe LOAD-GATES
itself (waits for 1-min loadavg < GRAFT_SWEEP_LOAD_GATE, default 1.5,
stamping start_load into its log line): the r12 q_bucketed_join probe
started inside the suite's decaying load tail at loadavg >10 and read
garbage that cost a manual re-adjudication.
"""
import json, os, re, subprocess, sys, time

# --probe-band <ratio> [scaledDir] [refSweep]: one-shot mode (VERDICT r14
# item 1). No suite runs — parse the reference sweep artifact, select every
# query whose suite ratio is >= <ratio> but that never earned an isolated
# probe (isolated_s column is '-': the 25x floor / top-3 / drift triggers
# structurally never reach the 15-25x band), and give each its one
# load-gated fresh-JVM reading. The printed verdict compares the isolated
# ratio (isolated_s / the artifact's base_s) against the artifact's suite
# ratio; >1.5x the suite ratio = fix item per the adjudication protocol.
# --reprobe <sweep_artifact> [refSweep] [scaledDir]: one-shot mode
# (VERDICT r17 item 3 — the PLANS r17 §8 protocol, mechanized). No suite
# runs — parse the given sweep artifact and its reference (default: the
# newest OTHER SWEEP100_r*.txt), select every query whose adjudicated
# ratio drifted >1.5x past its reference ratio (the §5 up-mover rule),
# give each one load-gated fresh-JVM probe at the scaled dir, and print
# the sweep-hour / second-hour / reference table. A re-probe back within
# 1.5x of the reference ratio = the sweep-hour reading was a host
# condition spanning the sweep window (environmental); past it = a real
# mover that survived a second host-hour.
PROBE_BAND = None
REPROBE = None
if len(sys.argv) > 1 and sys.argv[1] == "--probe-band":
    PROBE_BAND = float(sys.argv[2])
    argv = [sys.argv[0]] + sys.argv[3:]
elif len(sys.argv) > 1 and sys.argv[1] == "--reprobe":
    REPROBE = sys.argv[2]
    argv = [sys.argv[0]] + sys.argv[3:]
else:
    argv = sys.argv

if REPROBE is not None:
    base = "/root/testdata/sf0.1"  # unused in this mode
    ref_path = argv[1] if len(argv) > 1 else None
    scaled = argv[2] if len(argv) > 2 else "/tmp/sf10"
    runs = "2"
    factor = "100"
elif PROBE_BAND is not None:
    base = "/root/testdata/sf0.1"  # unused in this mode
    scaled = argv[1] if len(argv) > 1 else "/tmp/sf10"
    runs = "2"
    factor = "100"
    ref_path = argv[2] if len(argv) > 2 else None
else:
    base = argv[1] if len(argv) > 1 else "/root/testdata/sf0.1"
    scaled = argv[2] if len(argv) > 2 else "/tmp/sf1"
    runs = argv[3] if len(argv) > 3 else "2"
    factor = argv[4] if len(argv) > 4 else "10"
    ref_path = argv[5] if len(argv) > 5 else None
repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
artifact = os.path.join(repo, "bench.json")


def load_ref_ratios(path):
    """Parse 'query base_s scaled_s ratio x' table lines from a previous
    sweep artifact -> {query: ratio}. Missing/unparseable file -> {}."""
    if path is None:
        cands = sorted(f for f in os.listdir(repo)
                       if re.match(r"SWEEP100_r\d+\.txt$", f))
        if not cands:
            return {}
        path = os.path.join(repo, cands[-1])
    out = {}
    try:
        with open(path) as f:
            for line in f:
                # two artifact generations: r7-r9 print (query, base_s,
                # scaled_s, ratio'x'); r10+ insert an isolated_s column
                # rendered as '-' or a float — optional in the pattern so
                # either vintage parses (a silent zero-match here disables
                # the outlier auto-probe entirely)
                m = re.match(
                    r"(q_\w+)\s+[\d.]+\s+[\d.-]+\s+(?:(?:[\d.]+|-)\s+)?([\d.]+)x",
                    line.strip())
                if m:
                    out[m.group(1)] = float(m.group(2))
    except OSError:
        return {}
    if out:
        print(f"[sweep] outlier reference: {path} ({len(out)} ratios)", flush=True)
    else:
        print(f"[sweep] WARNING: reference {path} yielded ZERO ratios — "
              "relative outlier auto-probe disabled (absolute floor still "
              "active)", flush=True)
    return out


def parse_sweep_rows(path):
    """Full-row parse of an r10+ sweep artifact table ->
    {query: (base_s, scaled_s, isolated_s_or_None, ratio)}. Used by
    --probe-band, which needs base_s (denominator) and the isolated_s
    column ('-' = never probed), not just the ratio."""
    if path is None:
        cands = sorted(f for f in os.listdir(repo)
                       if re.match(r"SWEEP100_r\d+\.txt$", f))
        if not cands:
            raise SystemExit("[sweep] --probe-band: no SWEEP100_r*.txt found")
        path = os.path.join(repo, cands[-1])
    rows = {}
    with open(path) as f:
        for line in f:
            m = re.match(
                r"(q_\w+)\s+([\d.]+)\s+([\d.-]+)\s+([\d.]+|-)\s+([\d.]+)x",
                line.strip())
            if m:
                iso = None if m.group(4) == "-" else float(m.group(4))
                rows[m.group(1)] = (float(m.group(2)), float(m.group(3)),
                                    iso, float(m.group(5)))
    if not rows:
        raise SystemExit(f"[sweep] --probe-band: {path} yielded zero rows")
    print(f"[sweep] probe-band reference: {path} ({len(rows)} rows)",
          flush=True)
    return path, rows


ref_ratios = ({} if (PROBE_BAND is not None or REPROBE is not None)
              else load_ref_ratios(ref_path))


def run(cmd, env=None):
    """check=True with diagnostics: captured output is PRINTED on failure
    (an OOM 45 minutes in must not reduce to 'exit status 1')."""
    p = subprocess.run(cmd, cwd=repo, env=env, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + "\n" + p.stderr[-4000:] + "\n")
        raise SystemExit(f"[sweep] FAILED: {' '.join(cmd)}")
    return p


if not os.path.isdir(scaled):
    print(f"[sweep] generating {factor}x corpus at {scaled}", flush=True)
    run(["sbt", "-batch", f"runMain graft.tools.ScaleUp {base} {scaled} {factor}"])


# by-design exclusions (comma list, override with GRAFT_SWEEP_EXCLUDE):
# q_embed_neardup is the brute-force all-pairs recall ground truth —
# O(n²) by definition, documented weak, excluded from r7–r9 sweeps by
# hand; the r10 sweep accidentally included it (709 s of a 1550 s total,
# drowning the headline) because the exclusion lived in tribal memory
# instead of here.
exclude = set(os.environ.get("GRAFT_SWEEP_EXCLUDE", "q_embed_neardup").split(","))

# pair-emitting queries whose OUTPUT grows superlinearly with the corpus
# (near-dup pairs ∝ n² is a data property, not a plan defect): Bench
# additionally records their output row counts (untimed pass) and the
# verdict line normalizes seconds-per-pair across the two SFs — the claim
# "per-pair cost is falling" becomes a printed number instead of prose.
pair_queries = [q for q in os.environ.get(
    "GRAFT_SWEEP_PAIRS", "q_embed_neardup_lsh").split(",") if q]

# ratio at or past which a suite reading always earns an isolated probe
ABS_FLOOR = 25.0


def bench(sf_dir):
    # remove the artifact first: Bench swallows its own write failure, and
    # a stale file would silently make every ratio 1.0x
    if os.path.exists(artifact):
        os.remove(artifact)
    # frame cache OFF by default: scaling sweeps measure true per-query
    # compute, and a cache hit would hide a regression in the cached
    # stage (export GRAFT_NO_FRAME_CACHE=0 to sweep the cached regime)
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir, SPARK_GRAFT_CPUS="32",
               SPARK_GRAFT_BENCH_RUNS=runs,
               SPARK_GRAFT_BENCH_SKIP=",".join(sorted(exclude)),
               SPARK_GRAFT_BENCH_ROWS=",".join(pair_queries),
               GRAFT_NO_FRAME_CACHE=os.environ.get("GRAFT_NO_FRAME_CACHE", "1"))
    # load-gate the SUITE launch too, not just the probes: the r17 sweep's
    # sf10 leg started inside the sf0.1 leg's decaying 32-thread tail, and
    # a whole family of lineitem/shingle queries read ~2x readings that a
    # second-hour idle probe disproved (PLANS r17 §8). Bounded + stamped
    # by Bench's own env record either way. The gate comes from the shared
    # GRAFT_SWEEP_LOAD_GATE default — the suite must not launch under a
    # looser, non-configurable threshold than the probes that adjudicate
    # its outliers.
    wait_quiet(timeout_s=300)
    print(f"[sweep] benching {sf_dir} (runs={runs}, skip={sorted(exclude)})", flush=True)
    run(["sbt", "-batch", "runMain graft.Bench"], env=env)
    if not os.path.exists(artifact):
        raise SystemExit(f"[sweep] bench.json missing after {sf_dir} run "
                         "(Bench's file write failed — see its stderr)")
    with open(artifact) as f:
        return json.load(f)


def wait_quiet(gate=None, timeout_s=900):
    """Block until 1-minute loadavg drops below the gate (default 1.5,
    GRAFT_SWEEP_LOAD_GATE to override). The r12 q_bucketed_join probe
    started at loadavg >10 — the suite's decaying load tail — and read a
    garbage 13.87 s that cost a manual re-adjudication commit; probes gate
    themselves now instead of relying on the operator to notice. Returns
    the load observed when the gate opened (stamped into the probe line so
    the artifact proves the reading was quiet)."""
    gate = gate if gate is not None else float(
        os.environ.get("GRAFT_SWEEP_LOAD_GATE", "1.5"))
    deadline = time.time() + timeout_s
    load = os.getloadavg()[0]
    while load >= gate and time.time() < deadline:
        print(f"[sweep] load {load:.2f} >= gate {gate} — waiting", flush=True)
        time.sleep(20)
        load = os.getloadavg()[0]
    if load >= gate:
        print(f"[sweep] WARNING: load gate never opened (load {load:.2f} "
              f"after {timeout_s}s) — probing anyway, treat with suspicion",
              flush=True)
    return load


def probe_isolated(q, sf_dir):
    """One fresh-JVM re-run of a single query (the r9 'any outlier gets
    one isolated probe before it is believed' rule). Returns the lower
    median seconds, or None if the probe itself failed."""
    if os.path.exists(artifact):
        os.remove(artifact)
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir, SPARK_GRAFT_CPUS="32",
               SPARK_GRAFT_BENCH_RUNS=runs, SPARK_GRAFT_BENCH_ONLY=q,
               GRAFT_NO_FRAME_CACHE=os.environ.get("GRAFT_NO_FRAME_CACHE", "1"))
    load = wait_quiet()
    print(f"[sweep] isolated probe: {q} @ {sf_dir} start_load={load:.2f}",
          flush=True)
    try:
        run(["sbt", "-batch", "runMain graft.Bench"], env=env)
        with open(artifact) as f:
            t = json.load(f)["queries"].get(q)
        return t if t and t > 0 else None
    except SystemExit:
        return None


if REPROBE is not None:
    art_file, art_rows = parse_sweep_rows(REPROBE)
    if ref_path is None:
        # newest SWEEP100 that is NOT the artifact under re-probe — the
        # auto-pick must never adjudicate an artifact against itself
        cands = sorted(f for f in os.listdir(repo)
                       if re.match(r"SWEEP100_r\d+\.txt$", f)
                       and os.path.join(repo, f) != os.path.abspath(art_file))
        if not cands:
            raise SystemExit("[sweep] --reprobe: no reference SWEEP100 found")
        ref_path = os.path.join(repo, cands[-1])
    ref_file, ref_rows = parse_sweep_rows(ref_path)
    movers = []
    for q, (tb, ts, iso, ratio) in sorted(art_rows.items(),
                                          key=lambda x: -x[1][3]):
        ref = ref_rows.get(q)
        if ref is None or q in exclude:
            continue
        if ratio > 1.5 * ref[3]:
            movers.append((q, tb, ts, iso, ratio, ref))
    print(f"[sweep] reprobe: {len(movers)} queries in "
          f"{os.path.basename(art_file)} drifted >1.5x past "
          f"{os.path.basename(ref_file)}", flush=True)
    print(f"\n{'query':34} {'sweep_s':>9} {'sweep_r':>8} {'reprobe_s':>10} "
          f"{'reprobe_r':>9} {'ref_s':>8} {'ref_r':>7} verdict")
    real = 0
    for q, tb, ts, iso, ratio, (rtb, rts, riso, rratio) in movers:
        # the artifact's adjudicated reading: min(suite, isolated)
        sweep_s = min(x for x in (ts, iso) if x is not None and x > 0)
        ref_s = min(x for x in (rts, riso) if x is not None and x > 0)
        rp = probe_isolated(q, scaled)
        if rp is None:
            print(f"{q:34} {sweep_s:9.2f} {ratio:7.1f}x {'-':>10} {'-':>9} "
                  f"{ref_s:8.2f} {rratio:6.1f}x PROBE-FAILED", flush=True)
            real += 1
            continue
        rp_r = rp / tb
        verdict = "environmental" if rp_r <= 1.5 * rratio else "REAL-MOVER"
        if verdict == "REAL-MOVER":
            real += 1
        print(f"{q:34} {sweep_s:9.2f} {ratio:7.1f}x {rp:10.2f} {rp_r:8.1f}x "
              f"{ref_s:8.2f} {rratio:6.1f}x {verdict}", flush=True)
    print(f"\n[sweep] reprobe done: {len(movers)} movers probed at a second "
          f"host-hour, {real} still past 1.5x their reference ratio",
          flush=True)
    sys.exit(0)


if PROBE_BAND is not None:
    ref_file, ref_rows = parse_sweep_rows(ref_path)
    targets = sorted(
        ((q, v) for q, v in ref_rows.items()
         if v[3] >= PROBE_BAND and v[2] is None and q not in exclude),
        key=lambda x: -x[1][3])
    print(f"[sweep] probe-band {PROBE_BAND}x: {len(targets)} never-probed "
          f"queries at ratio >= {PROBE_BAND}x in {os.path.basename(ref_file)} "
          f"(floor was {ABS_FLOOR}x)", flush=True)
    print(f"\n{'query':34} {'base_s':>8} {'suite_s':>9} {'suite_r':>8} "
          f"{'iso_s':>8} {'iso_r':>8} verdict")
    bad = 0
    for q, (tb, ts, _, suite_r) in targets:
        iso = probe_isolated(q, scaled)
        if iso is None:
            print(f"{q:34} {tb:8.2f} {ts:9.2f} {suite_r:7.1f}x "
                  f"{'-':>8} {'-':>8} PROBE-FAILED", flush=True)
            bad += 1
            continue
        iso_r = iso / tb
        # isolated > 1.5x the suite ratio = the suite reading was
        # flattered by a warm neighbor and the true cost is worse: fix item.
        # isolated <= suite is the normal case (neighbor interference gone).
        verdict = "FIX-ITEM" if iso_r > 1.5 * suite_r else "ok"
        if verdict == "FIX-ITEM":
            bad += 1
        print(f"{q:34} {tb:8.2f} {ts:9.2f} {suite_r:7.1f}x "
              f"{iso:8.2f} {iso_r:7.1f}x {verdict}", flush=True)
    print(f"\n[sweep] probe-band done: {len(targets)} probed, {bad} flagged",
          flush=True)
    sys.exit(0)


b, s = bench(base), bench(scaled)
rows = []
for q, tb in b["queries"].items():
    ts = s["queries"].get(q)
    if ts is None or tb <= 0 or ts <= 0:
        rows.append([float("inf"), q, tb, ts, None])
    else:
        rows.append([ts / tb, q, tb, ts, None])
# auto-probe suite outliers. Two triggers (either fires):
#  - relative: ratio > 1.5x its reference-sweep ratio (drift vs last round)
#  - absolute: ratio >= ABS_FLOOR regardless of history — r10's
#    q_collocations (30.4x) and q_revenue_concentration (27.1x) escaped the
#    relative trigger by landing just under 1.5x their r9 ratios on
#    untouched code; any query that far past the data ratio deserves its
#    one fresh-JVM probe no matter what last round said.
#  - top-3: the three highest suite ratios are ALWAYS probed, floor or no
#    floor — r11/r12's q_multimodal_resize sat at 23.9x (just under the
#    floor) for two sweeps running without ever earning its one isolated
#    reading; rank-based probing closes that gap class permanently.
top3 = {row[1] for row in sorted(
    (r for r in rows if r[2] and r[2] > 0 and r[3] and r[3] > 0),
    key=lambda x: -x[0])[:3]}
for row in rows:
    r, q, tb, ts = row[0], row[1], row[2], row[3]
    ref = ref_ratios.get(q)
    # inf-ratio rows (query completed at base but died/missing at scaled)
    # are the single MOST suspicious class — always probed: an isolated
    # fresh JVM may succeed where the suite run was killed by a neighbor
    # (OOM tail, GCLocker), and a probe failure confirms a real scale wall
    if tb and tb > 0 and (ts is None or ts <= 0):
        iso = probe_isolated(q, scaled)
        row[4] = iso
        if iso is not None:
            row[0] = iso / tb
        else:
            print(f"[sweep] {q}: failed at {scaled} in suite AND isolated "
                  "probe — treat as a hard scale failure", flush=True)
        continue
    if tb and tb > 0 and ts and ts > 0 and (
            (ref and r > 1.5 * ref) or r >= ABS_FLOOR or q in top3):
        iso = probe_isolated(q, scaled)
        row[4] = iso
        if iso is not None:
            row[0] = min(ts, iso) / tb
rows.sort(key=lambda x: -x[0])
print(f"\n{'query':34} {'base_s':>8} {'scaled_s':>9} {'isolated_s':>11} {'ratio':>7}")
for r, q, tb, ts, iso in rows:
    iso_s = f"{iso:11.2f}" if iso is not None else f"{'-':>11}"
    print(f"{q:34} {tb:8.2f} {ts if ts else -1:9.2f} {iso_s} {r:7.1f}x")
# pair-normalized verdicts for the superlinear-output queries
by_q = {row[1]: row for row in rows}
for q in pair_queries:
    pb, ps = b.get("rows", {}).get(q), s.get("rows", {}).get(q)
    row = by_q.get(q)
    if not row or pb is None or ps is None or pb <= 0 or ps <= 0:
        print(f"[pairs] {q}: counts unavailable (base={pb} scaled={ps})")
        continue
    r, tb, ts, iso = row[0], row[2], row[3], row[4]
    # ts may be None on the inf-ratio path (suite died at scaled, isolated
    # probe succeeded): min(None, iso) raises TypeError (ADVICE r14)
    ts_eff = iso if ts is None else (min(ts, iso) if iso is not None else ts)
    if ts_eff is None or ts_eff <= 0:
        print(f"[pairs] {q}: no scaled timing (suite and probe both failed)")
        continue
    pair_ratio = ps / pb
    per_pair = r / pair_ratio
    print(f"[pairs] {q}: pairs {pb} -> {ps} ({pair_ratio:.1f}x); wall "
          f"{tb:.2f}s -> {ts_eff:.2f}s ({r:.1f}x); per-pair cost ratio "
          f"{per_pair:.2f}x ({'falling' if per_pair < 1 else 'RISING'} "
          f"per-pair cost at {factor}x data)")
print(f"\ntotal: {b['value']:.1f}s -> {s['value']:.1f}s "
      f"= {s['value'] / b['value']:.2f}x wall-clock at {factor}x data "
      f"({len(rows)} queries; ratio column uses min(suite, isolated) "
      f"for probed outliers)")
