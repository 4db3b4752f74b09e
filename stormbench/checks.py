"""Output checks of the pipeline workloads.

For every forecast `graft.Main --type update` processed, and every country:

* the full file set exists (tile, CCI, admin1/admin2, facility and track
  views; a report whenever the storm reaches the country), and the tile
  view holds tiles x 8 rows;
* per threshold, the admin views' sum of `E_population` equals the tile
  view's;
* each tile's probability is non-increasing in the wind threshold;
* a report whose previous forecast also has one carries the
  forecast-over-forecast deltas (`change_children_<wind>` = expected now
  minus expected then), and a first report carries the first-report form.

Each check counts as one attempted operation; a failed check is recorded
with its reason. A content digest per forecast (views and report, order
independent) is kept so two sets of runs can be compared.
"""
import hashlib
import json
import math
import os

import pyarrow.csv as pcsv

THRESHOLDS = [34, 40, 50, 64, 83, 96, 113, 137]
KINDS = ("school", "hc", "shelter", "wash")
ZOOM = 14
VOLATILE_REPORT_KEYS = {"report_date"}


def read_csv(path):
    return pcsv.read_csv(path).to_pydict()


def expected_files(country, storm, key, levels=(1, 2)):
    prefix = f"{country}_{storm}_{key}_"
    files = [f"mercator_impact_views/{prefix}{th}_{ZOOM}.csv" for th in THRESHOLDS]
    files.append(f"mercator_impact_views/{prefix}{ZOOM}_cci.csv")
    for lv in levels:
        files += [f"admin_impact_views/{prefix}{th}_admin{lv}.csv" for th in THRESHOLDS]
        files.append(f"admin_impact_views/{prefix}admin{lv}_cci.csv")
    for kind in KINDS:
        files += [f"{kind}_views/{prefix}{th}.parquet" for th in THRESHOLDS]
    files.append(f"track_views/{prefix}tracks.parquet")
    return files


def close(a, b, rel=1e-9, abs_=1e-6):
    return math.isclose(a, b, rel_tol=rel, abs_tol=abs_)


def check_forecast(store, country, storm, key, prev_key, n_tiles):
    """Returns (attempted, failures, digest) for one country/forecast."""
    failures = []
    attempted = 0
    tag = f"{country}@{key}"
    digest = hashlib.sha256()

    attempted += 1
    missing = [f for f in expected_files(country, storm, key)
               if not os.path.exists(os.path.join(store, f))]
    if missing:
        failures.append(f"{tag}: missing {len(missing)} view files, e.g. {missing[0]}")
        return attempted, failures, None

    prefix = f"{country}_{storm}_{key}_"
    tile = {}
    for th in THRESHOLDS:
        path = os.path.join(store, f"mercator_impact_views/{prefix}{th}_{ZOOM}.csv")
        tile[th] = read_csv(path)
        with open(path, "rb") as f:
            digest.update(b"".join(sorted(f.read().splitlines(True)[1:])))

    attempted += 1
    rows = sum(len(t["zone_id"]) for t in tile.values())
    if rows != n_tiles * len(THRESHOLDS):
        failures.append(f"{tag}: tile view has {rows} rows, expected {n_tiles} x 8")

    for lv in (1, 2):
        for th in THRESHOLDS:
            attempted += 1
            path = os.path.join(store, f"admin_impact_views/{prefix}{th}_admin{lv}.csv")
            admin = read_csv(path)
            with open(path, "rb") as f:
                digest.update(b"".join(sorted(f.read().splitlines(True)[1:])))
            t_sum = sum(v for v in tile[th]["E_population"] if v is not None)
            a_sum = sum(v for v in admin["E_population"] if v is not None)
            if not close(t_sum, a_sum):
                failures.append(f"{tag}: admin{lv} sum E_population {a_sum} != tile view "
                                f"{t_sum} at {th} kt")

    attempted += 1
    probs = {th: dict(zip(tile[th]["zone_id"], tile[th]["probability"])) for th in THRESHOLDS}
    bad = 0
    for lo, hi in zip(THRESHOLDS, THRESHOLDS[1:]):
        p_lo, p_hi = probs[lo], probs[hi]
        bad += sum(1 for z, p in p_hi.items() if p > p_lo.get(z, -1.0) + 1e-12)
    if bad:
        failures.append(f"{tag}: probability increases with threshold on {bad} tile rows")

    report_rel = f"reports_json/{country}_{storm}_{key}.json"
    reached = any(p > 0 for p in tile[THRESHOLDS[0]]["probability"])
    attempted += 1
    if reached != os.path.exists(os.path.join(store, report_rel)):
        failures.append(f"{tag}: report {'missing' if reached else 'unexpected'} "
                        f"(storm {'reaches' if reached else 'misses'} the country)")
    elif reached:
        with open(os.path.join(store, report_rel)) as f:
            report = json.load(f)
        stable = {k: v for k, v in report.items() if k not in VOLATILE_REPORT_KEYS}
        digest.update(json.dumps(stable, sort_keys=True).encode())
        attempted += 1
        prev_path = os.path.join(store, f"reports_json/{country}_{storm}_{prev_key}.json")
        previous = None
        if prev_key and os.path.exists(prev_path):
            with open(prev_path) as f:
                previous = json.load(f)
        problem = delta_problem(report, previous)
        if problem:
            failures.append(f"{tag}: {problem}")
    return attempted, failures, digest.hexdigest()[:16]


def delta_problem(report, previous):
    """None when the report's change fields match its previous report."""
    winds = [w for w in THRESHOLDS if f"expected_children_{w}" in report]
    if not winds:
        return "report has no per-wind expected_children"
    if previous is None:
        if report.get("children_change_perc") != "-":
            return "first report carries a change percentage"
        for w in winds:
            if report.get(f"change_children_{w}") != report[f"expected_children_{w}"]:
                return f"first report change_children_{w} != expected_children_{w}"
        return None
    if report.get("children_change_perc") == "-":
        return "report after a previous forecast lacks the change percentage"
    for w in winds:
        want = report[f"expected_children_{w}"] - previous.get(f"expected_children_{w}", 0)
        if report.get(f"change_children_{w}") != want:
            return (f"change_children_{w} = {report.get(f'change_children_{w}')}, "
                    f"expected {want} from the previous report")
    return None


def check_pipeline(store, units):
    """Checks every forecast `units` lists as processed (exit 0)."""
    with open(os.path.join(store, "manifest.json")) as f:
        manifest = json.load(f)
    storm = manifest["storm"]
    attempted, failures, digests = 0, [], {}
    keys = [u["key"] for u in units]
    for i, u in enumerate(units):
        if u["exit"] != 0:
            continue
        prev_key = keys[i - 1] if i > 0 else None
        fdig = hashlib.sha256()
        for country in sorted(manifest["countries"]):
            n = manifest["countries"][country]["tiles"]
            att, fail, dig = check_forecast(store, country, storm, u["key"], prev_key, n)
            attempted += att
            failures += fail
            fdig.update((dig or "missing").encode())
        digests[u["key"]] = fdig.hexdigest()[:16]
    return {"attempted": attempted, "failures": failures, "digests": digests}

