"""Seeded input generators for the benchmark.

`meertrap_partition` writes one daily MeerTRAP partition: one directory per
candidate, each holding a one-line SPCCL file, its host's run-summary copy and
a diagnostic plot, in the FIXTURES.md sections 1-3 shape. Fixed small shares
of the partition carry the four edge cases the pipeline must tolerate:

* corrupt run-summary JSON (each with distinct content, so each is one
  quarantine row after the content-hash dedup);
* two-line SPCCL files (quarantined per file, their candidates dropped);
* observations whose run summaries have a null ``utc_stop``;
* keep-first duplicate candidates: a later candidate directory repeating an
  earlier candidate's SPCCL values, which the pipeline must drop.

`atnf_snapshot` writes an ATNF catalogue CSV snapshot.

Both return the counts the pipelines must report for that input.
"""
import json
import os
import random
import time

EPOCH_2023_11_01 = 1698796800  # 2023-11-01 00:00:00 UTC
MJD_UNIX_EPOCH = 40587.0
HOSTS = 4
BEAMS_PER_HOST = 12

CORRUPT_SHARE = 0.01
TWO_LINE_SHARE = 0.01
DUPLICATE_SHARE = 0.02
NULL_STOP_SHARE = 0.2


def _hms(rng):
    return f"{rng.randrange(24)}:{rng.randrange(60):02d}:{rng.uniform(0, 59.99):05.2f}"


def _dms(rng):
    sign = "-" if rng.random() < 0.7 else ""
    return f"{sign}{rng.randrange(90):02d}:{rng.randrange(60):02d}:{rng.uniform(0, 59.9):04.1f}"


def _utc(ts):
    return time.strftime("%Y-%m-%d_%H:%M:%S", time.gmtime(ts))


def _sb_time(ts):
    return time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(ts)) + ".000000+00:00"


def _run_summary(sb, obs, host, beams):
    return json.dumps({
        "beams": {
            "ca_target_request": {
                "beams": ["cfbf00000"],
                "tilings": [{
                    "coordinate_type": "equatorial", "epoch": obs["t_min"] + 0.395673,
                    "epoch_offset": 300.0, "method": "variable_size", "nbeams": 780,
                    "overlap": 0.25, "reference_frequency": 1284000000.0,
                    "shape": "circle",
                    "target": f"{obs['source']}, radec target, {obs['ra']}, {obs['dec']}",
                }],
                "unique_id": None,
            },
            "cb_antennas": ["m000", "m001", "m002"],
            "coherent_beam_shape": {"angle": obs["angle"], "overlap": 0.25,
                                    "x": 0.008135, "y": 0.007491},
            "ib_antennas": ["m000"],
            "list": [{
                "absnum": b["absnum"], "coherent": b["coherent"], "dec_dms": obs["dec"],
                "mc_ip": f"10.0.0.{host}", "mc_port": 7147, "ra_hms": obs["ra"],
                "relnum": b["relnum"], "source": obs["source"],
            } for b in beams],
        },
        "data": {"bw": 856.0, "cfreq": 1284.0, "nbeam": HOSTS * BEAMS_PER_HOST, "nbit": 8,
                 "nchan": 1024, "npol": obs["npol"], "sync_time": 1700000000.0,
                 "tsamp": 0.000306},
        "pipeline": {"opaque": True},
        "sb_details": {
            "id": sb["id"], "id_code": sb["code"],
            "actual_start_time": _sb_time(sb["start"]),
            "expected_duration_seconds": sb["duration"],
            "proposal_id": "SCI-20231120-XX-01",
            "script_profile_config": sb["script"],
            "targets": json.dumps([{"track_start_offset": 32.6, "target": obs["source"],
                                    "track_duration": 600.0}]),
        },
        "utc_start": _utc(obs["t_min"]),
        "utc_stop": None if obs["t_max"] is None else _utc(obs["t_max"]),
        "version_info": {"app": "0.9"},
    }, indent=1)


def _spccl_line(c):
    mjd = c["observed"] / 86400.0 + MJD_UNIX_EPOCH
    return (f"0\t{mjd:.11f}\t{c['dm']:.1f}\t{c['width']:.1f}\t{c['snr']:.1f}\t"
            f"{c['beam']}\t{c['mode']}\t{c['ra']}\t{c['dec']}\t1\t0.97\t"
            f"{_utc(int(c['observed']))}.fil\t{c['plot']}\n")


def meertrap_partition(root, seed, n_obs=20, obs_per_sb=4, n_cands=250):
    """Writes a partition under ``root/<partition_key>``.

    Returns ``(partition_key, expected, files)``: ``expected`` holds the
    metrics `MeertrapPipeline.metrics` must report, ``files`` the input's
    file counts.
    """
    rng = random.Random(seed)
    day = seed % 28
    partition_key = f"2023-11-{day + 1:02d}"
    base = EPOCH_2023_11_01 + day * 86400 + 18 * 3600
    part_dir = os.path.join(root, partition_key)

    # Schedule blocks of `obs_per_sb` observations, 10 minutes apart. One SB
    # in three has a zero expected duration, fixed from its script.
    sbs, observations = [], []
    for s in range(n_obs // obs_per_sb):
        start = base + s * 3 * 3600
        sbs.append({"id": 79000 + 100 * day + s, "code": f"2023110{s}-{seed % 1000:04d}",
                    "start": start, "duration": 0 if s % 3 == 2 else 3600,
                    "script": "init duration=200\\n cal duration=2700\\n"})
        for j in range(obs_per_sb):
            t_min = start + 120 + j * 600
            observations.append({
                "sb": s, "t_min": t_min,
                "t_max": None if rng.random() < NULL_STOP_SHARE else t_min + 540,
                "source": f"J{rng.randrange(2400):04d}-{rng.randrange(9000):04d}",
                "ra": _hms(rng), "dec": _dms(rng), "npol": rng.choice([1, 4]),
                "angle": round(rng.uniform(-90, 90), 4)})

    # Host beams: host h owns absolute beams h*12 .. h*12+11; beam 0 is the
    # incoherent beam.
    host_beams = {h: [{"absnum": h * BEAMS_PER_HOST + r, "relnum": r,
                       "coherent": h * BEAMS_PER_HOST + r != 0}
                      for r in range(BEAMS_PER_HOST)] for h in range(HOSTS)}
    summaries = {(o, h): _run_summary(sbs[obs["sb"]], obs, h, host_beams[h])
                 for o, obs in enumerate(observations) for h in range(HOSTS)}

    # Candidates: every (observation, host) gets at least one, so every
    # run summary is present in the partition.
    pairs = [(o, h) for o in range(len(observations)) for h in range(HOSTS)]
    owners = pairs + [rng.choice(pairs) for _ in range(n_cands - len(pairs))]
    cands, seen_keys, used_dirs = [], set(), set()
    for o, h in owners:
        obs = observations[o]
        while True:
            observed = obs["t_min"] + rng.randrange(1000, 530000) / 1000.0
            b = rng.choice(host_beams[h])
            c = {"obs": o, "host": h, "observed": observed, "beam": b["absnum"],
                 "mode": "C" if b["coherent"] else "I",
                 "dm": round(rng.uniform(5, 2500), 1), "width": round(rng.uniform(0.3, 50), 1),
                 "snr": round(rng.uniform(8, 60), 1), "ra": obs["ra"], "dec": obs["dec"]}
            key = (c["dm"], c["snr"], c["width"], round(observed, 3), c["beam"], c["mode"], o)
            if key not in seen_keys:
                seen_keys.add(key)
                break
        cands.append(c)

    n = len(cands)
    # The first candidate of each (observation, host) keeps a valid summary.
    seen_pairs = set()
    for i, (o, h) in enumerate(owners):
        if (o, h) not in seen_pairs:
            seen_pairs.add((o, h))
            cands[i]["keeps_summary"] = True
    idx = list(range(n))
    rng.shuffle(idx)
    n_corrupt = max(1, round(CORRUPT_SHARE * n))
    n_two_line = max(1, round(TWO_LINE_SHARE * n))
    n_dup = max(1, round(DUPLICATE_SHARE * n))
    corrupt = [i for i in idx if not cands[i].get("keeps_summary")][:n_corrupt]
    set_corrupt = set(corrupt)
    rest = [i for i in idx if i not in set_corrupt]
    two_line = set(rest[:n_two_line])
    duplicated = rest[n_two_line:n_two_line + n_dup]
    for i in corrupt:
        cands[i]["corrupt"] = True
    for i in two_line:
        cands[i]["two_line"] = True

    # Duplicates: same host, same SPCCL values, a later processing time.
    for i in duplicated:
        dup = dict(cands[i])
        dup.pop("keeps_summary", None)
        dup["duplicate_of"] = i
        cands.append(dup)

    os.makedirs(part_dir, exist_ok=True)
    for c in cands:
        processed = int(c["observed"]) + 30 + (600 if "duplicate_of" in c else 0)
        while (c["host"], processed) in used_dirs:
            processed += 1
        used_dirs.add((c["host"], processed))
        cand_dir = os.path.join(part_dir, f"tpn-0-{c['host']}_{processed}")
        os.makedirs(cand_dir)
        c["plot"] = f"{c['observed']:.3f}_DM_{c['dm']:.1f}_beam_{c['beam']}{c['mode']}.jpg"
        obs_day = _utc(int(c["observed"]))[:10]
        summary_name = f"{obs_day}_tpn-0-{c['host']}_run_summary.json"
        with open(os.path.join(cand_dir, summary_name), "w") as f:
            if c.get("corrupt"):
                f.write('{"beams": {"list": [ "truncated in ' + os.path.basename(cand_dir))
            else:
                f.write(summaries[(c["obs"], c["host"])])
        stamp = _utc(int(c["observed"])).replace(":", "-")
        with open(os.path.join(cand_dir, f"{stamp}_beam{c['beam']}.spccl.log"), "w") as f:
            line = _spccl_line(c)
            f.write(line + line if c.get("two_line") else line)
        with open(os.path.join(cand_dir, c["plot"]), "wb") as f:
            f.write(b"\xff\xd8\xff\xe0" + os.path.basename(cand_dir).encode() + b"\xff\xd9")

    kept = [c for c in cands if not c.get("two_line") and "duplicate_of" not in c]
    per_obs = {}
    for c in kept:
        per_obs[c["obs"]] = per_obs.get(c["obs"], 0) + 1
    expected = {
        "num_obs": len(observations),
        "num_cands": len(kept),
        "beams": len(observations) * HOSTS * BEAMS_PER_HOST,
        "cands_per_obs_max": max(per_obs.values()),
        "corrupt_run_summaries": len(corrupt),
        "quarantined_spccl": len(two_line),
    }
    # Every candidate directory holds one summary, one SPCCL file, one plot.
    files = {"candidate_dirs": len(cands),
             "distinct_valid_run_summaries": len(summaries)}
    return partition_key, expected, files


def atnf_snapshot(path, seed, n=3500):
    """Write an ATNF snapshot CSV (NAME,RAJ,DECJ,DM,W50,P0) of `n` pulsars.

    Returns the expected counts: `known_pulsars` (rows, one id each).
    """
    rng = random.Random(seed * 7919 + 1)
    names = set()
    rows = []
    while len(rows) < n:
        ra, dec = _hms(rng), _dms(rng)
        name = "J" + ra.replace(":", "")[:4] + ("-" if dec.startswith("-") else "+") + \
            dec.lstrip("-").replace(":", "")[:4]
        while name in names:
            name += chr(ord("A") + rng.randrange(26))
        names.add(name)
        w50 = "" if rng.random() < 0.3 else f"{rng.uniform(0.05, 80):.3f}"
        rows.append(f"{name},{ra},{dec},{rng.uniform(1, 1500):.2f},{w50},"
                    f"{rng.uniform(0.0014, 12):.6f}")
    with open(path, "w") as f:
        f.write("NAME,RAJ,DECJ,DM,W50,P0\n")
        f.write("\n".join(rows) + "\n")
    return {"known_pulsars": n}
