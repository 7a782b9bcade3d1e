"""Seeded input generators for the benchmark workloads (used by run.py).

Each generator writes its inputs and returns the outputs the program must
produce on them. The expectations are computed here, from the generated
rows, without calling the program.
"""
import csv
import json
import os
import random
from collections import Counter

CALL_TYPES = [
    "911", "ONVIEW", "TELEPHONE OTHER, NOT 911", "ALARM CALL (NOT POLICE ALARM)",
    "TEXT MESSAGE", "SCHEDULED EVENT (RECURRING)", "IN PERSON COMPLAINT",
    "HISTORY CALL (RETRO)",
]
FINAL_TYPES = [
    "--DISTURBANCE - OTHER", "--SUSPICIOUS CIRCUM. - SUSPICIOUS PERSON",
    "--TRAFFIC - MV COLLISION INVESTIGATION", "--THEFT - CAR PROWL",
    "--ASSIST OTHER AGENCY - CITY AGENCY", "--WARRANT SERVICES - MISDEMEANOR",
]
CLEARANCES = ["REPORT WRITTEN (NO ARREST)", "UNABLE TO LOCATE INCIDENT OR COMPLAINANT",
              "ASSISTANCE RENDERED", "PHYSICAL ARREST MADE", "CANCELLED BY RECEIVER"]
CATEGORIES = ["Disturbance", "Suspicious Circumstance", "Traffic", "Theft", "Assist"]
CLASSIFICATIONS = ["911", "ALARM", "ONVIEW", "TELEPHONE"]
INDICATORS = ["911", "NON-911"]
PRECINCTS = ["NORTH", "SOUTH", "EAST", "WEST", "SOUTHWEST"]
SECTORS = ["B", "C", "D", "E", "F", "G", "J", "K", "L", "M", "N", "O", "Q", "R", "S", "U", "W"]
NEIGHBORHOODS = ["BALLARD NORTH", "CAPITOL HILL", "DOWNTOWN COMMERCIAL", "FREMONT",
                 "LAKECITY", "NORTHGATE", "SLU/CASCADE", "UNIVERSITY", "QUEEN ANNE"]

BASE_EPOCH = 1672531200  # 2023-01-01T00:00:00Z

# CSV header in CallDataSchema.csvSchema order (43 columns).
CSV_COLUMNS = [
    "CAD Event Number", "CAD Event Clearance Description", "Call Type", "Priority",
    "Initial Call Type", "Final Call Type", "CAD Event Response Category",
    "Call Type Received Classification", "Call Type Indicator",
    "CAD Event Original Time Queued", "CAD Event Arrived Time",
    "CAD Event First Response Time (s)", "Call Sign Dispatch ID",
    "Call Sign Dispatch Time", "Call Sign at Scene Time", "Call Sign In-Service Time",
    "Call Sign Dispatch Delay Time (s)", "Call Sign Response Time (s)",
    "Call Sign Total Service Time (s)", "First SPD Call Sign at Scene Time",
    "First SPD Call Sign Dispatch Time", "Last SPD Call Sign In-Service Time",
    "SPD Call Sign Total Service Time (s)", "First SPD Call Sign Dispatch Delay Time (s)",
    "First SPD Call Sign Response Time (s)", "First CARE Call Sign At Scene Time",
    "First CARE Call Sign Dispatch Time", "Last CARE Call Sign In-Service Time",
    "CARE Call Sign Total Service Time (s)", "First CARE Call Sign Dispatch Delay Time (s)",
    "First CARE Call Sign Response Time (s)", "First Co-Response Call Sign At Scene Time",
    "First Co-Response Call Sign Dispatch Time", "Last Co-Response Call Sign In-Service Time",
    "First Co-Response Call Sign Dispatch Delay Time (s)",
    "First Co-Response Call Sign Response Time (s)", "Dispatch Precinct", "Dispatch Sector",
    "Dispatch Beat", "Dispatch Neighborhood", "Dispatch Longitude", "Dispatch Latitude",
    "Dispatch Reporting Area",
]
assert len(CSV_COLUMNS) == 43


def _civil(epoch):
    """(year, month, day, hour, minute, second) of a UTC epoch second."""
    days, rem = divmod(epoch, 86400)
    # days-from-civil inverse (Howard Hinnant), exact for the proleptic calendar
    z = days + 719468
    era = z // 146097
    doe = z - era * 146097
    yoe = (doe - doe // 1460 + doe // 36524 - doe // 146096) // 365
    doy = doe - (365 * yoe + yoe // 4 - yoe // 100)
    mp = (5 * doy + 2) // 153
    d = doy - (153 * mp + 2) // 5 + 1
    m = mp + 3 if mp < 10 else mp - 9
    y = yoe + era * 400 + (1 if m <= 2 else 0)
    return y, m, d, rem // 3600, rem % 3600 // 60, rem % 60


def ampm(epoch):
    """`MM/dd/yyyy hh:mm:ss AM|PM`, the CAD export's timestamp spelling."""
    y, mo, d, h, mi, s = _civil(epoch)
    h12 = h % 12 or 12
    return f"{mo:02d}/{d:02d}/{y} {h12:02d}:{mi:02d}:{s:02d} {'AM' if h < 12 else 'PM'}"


def iso(epoch):
    y, mo, d, h, mi, s = _civil(epoch)
    return f"{y:04d}-{mo:02d}-{d:02d}T{h:02d}:{mi:02d}:{s:02d}"


def write_calls(rng, path, target_rows):
    """CAD-shaped CSV: 1-3 dispatch rows per event, ~2% null arrival times,
    ~1% null in-service times (whole event dropped by the anti-join), sparse
    CARE and co-response columns. Returns the expected star-schema facts."""
    rows = 0
    survivors = []  # (event, priority or None, sector or "")
    events_with_null_service = set()
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(CSV_COLUMNS)
        e = 0
        while rows < target_rows:
            event = 2023000000 + e
            queued = BASE_EPOCH + e * 37 + rng.randrange(30)
            priority = "" if rng.random() < 0.03 else str(rng.randint(1, 9))
            call_type = rng.choice(CALL_TYPES)
            head = [event, rng.choice(CLEARANCES), call_type, priority,
                    rng.choice(FINAL_TYPES), rng.choice(FINAL_TYPES),
                    rng.choice(CATEGORIES), rng.choice(CLASSIFICATIONS),
                    rng.choice(INDICATORS), ampm(queued)]
            precinct = rng.choice(PRECINCTS)
            for j in range(rng.randint(1, 3)):
                arrived_null = rng.random() < 0.02
                arrived = queued + rng.randint(1, 120)
                dispatch = arrived + rng.randint(5, 600)
                scene = dispatch + rng.randint(60, 1800)
                service_null = rng.random() < 0.01
                service = scene + rng.randint(300, 7200)
                care = rng.random() < 0.05
                co = rng.random() < 0.03
                sector = "" if rng.random() < 0.05 else rng.choice(SECTORS)
                first_scene = scene - rng.randint(0, 60)
                agency = [ampm(first_scene), ampm(dispatch), ampm(service),
                          service - dispatch, dispatch - queued, first_scene - queued]
                none6 = [""] * 6
                spd, care_cols = (none6, agency) if care else (agency, none6)
                co_cols = ([ampm(scene + 30), ampm(dispatch + 30), ampm(service + 30),
                            dispatch + 30 - queued, scene - dispatch] if co else [""] * 5)
                w.writerow(head + [
                    "" if arrived_null else ampm(arrived),
                    scene - queued,
                    f"{event}-{rng.choice('BCDEFKLMN')}{rng.randint(1, 99)}",
                    ampm(dispatch),
                    "" if rng.random() < 0.1 else ampm(scene),
                    "" if service_null else ampm(service),
                    dispatch - queued,
                    "" if rng.random() < 0.05 else scene - dispatch,
                    service - dispatch,
                ] + spd + care_cols + co_cols + [
                    precinct, sector, f"{sector or 'X'}{rng.randint(1, 3)}",
                    rng.choice(NEIGHBORHOODS),
                    f"{-122.4 + rng.random() * 0.2:.6f}", f"{47.5 + rng.random() * 0.2:.6f}",
                    f"{precinct[:1]}{rng.randint(100, 999)}",
                ])
                rows += 1
                if arrived_null:
                    continue  # dropped by dropNullArrivalTimes before the anti-join
                if service_null:
                    events_with_null_service.add(event)
                survivors.append((event, priority, sector))
            e += 1
    kept = [r for r in survivors if r[0] not in events_with_null_service]
    return {
        "input_rows": rows,
        "input_bytes": os.path.getsize(path),
        "star_rows": len(kept),
        # dim_cad_event.priority after the -1 fill, summed
        "priority_sum": sum(int(p) if p else -1 for _, p, _ in kept),
        # dim_location.dispatch_sector == 'UNKNOWN' after the fill
        "unknown_sectors": sum(1 for _, _, s in kept if not s),
    }


def gen_etl(seed, out_dir, rows):
    """The CSV the timed ETL reads; returns its expected outputs."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    return write_calls(rng, os.path.join(out_dir, "calls.csv"), rows)


DURATION_FIELDS = [
    "care_call_sign_total_service_time_s_", "co_response_call_sign_total_service_time_s_",
    "spd_call_sign_total_service_time_s_", "call_sign_total_service_time_s_",
    "first_care_call_sign_dispatch_delay_time_s_", "first_care_call_sign_response_time_s_",
    "first_co_response_call_sign_dispatch_delay_time_s_",
    "first_co_response_call_sign_response_time_s_",
    "first_spd_call_sign_dispatch_delay_time_s_", "first_spd_call_sign_response_time_s_",
    "call_sign_dispatch_delay_time_s_", "call_sign_response_time_s_",
    "cad_event_first_response_time_s_",
]


def _dirty(rng):
    n = rng.randint(0, 5000)
    r = rng.random()
    if r < 0.6:
        return str(n)
    if r < 0.75:
        return f" {n} "
    if r < 0.9:
        return f"{n}s"
    return "" if r < 0.95 else None


def _stream_record(rng, key, idx):
    queued = BASE_EPOCH + idx * 11
    rec = {
        "cad_event_number": str(key),
        "cad_event_clearance_description": rng.choice(CLEARANCES),
        "call_type": rng.choice(CALL_TYPES),
        "priority": str(rng.randint(1, 9)),
        "initial_call_type": rng.choice(FINAL_TYPES),
        "final_call_type": rng.choice(FINAL_TYPES),
        "cad_event_original_time_queued": iso(queued),
        "cad_event_arrived_time": iso(queued + rng.randint(1, 120)),
        "dispatch_precinct": rng.choice(PRECINCTS),
        "dispatch_sector": rng.choice(SECTORS),
        "dispatch_beat": f"{rng.choice(SECTORS)}{rng.randint(1, 3)}",
        "dispatch_longitude": f"{-122.4 + rng.random() * 0.2:.6f}",
        "dispatch_latitude": f"{47.5 + rng.random() * 0.2:.6f}",
        "dispatch_reporting_area": str(rng.randint(100, 999)),
        "cad_event_response_category": rng.choice(CATEGORIES),
        "call_sign_dispatch_id": f"{key}-{rng.choice('BCDEFKLMN')}{rng.randint(1, 99)}",
        "call_sign_dispatch_time": iso(queued + 200),
        "first_care_call_sign_at_scene_time": iso(queued + 900) if rng.random() < 0.05 else None,
        "first_care_call_sign_dispatch_time": None,
        "first_co_response_call_sign_at_scene_time": None,
        "first_co_response_call_sign_dispatch_time": iso(queued + 250) if rng.random() < 0.03 else None,
        "first_spd_call_sign_at_scene_time": iso(queued + 800),
        "first_spd_call_sign_dispatch_time": iso(queued + 200),
        "last_care_call_sign_in_service_time": None,
        "last_co_response_call_sign_in_service_time": None,
        "last_spd_call_sign_in_service_time": iso(queued + 4000),
        "call_sign_at_scene_time": iso(queued + 820),
        "call_sign_in_service_time": iso(queued + 4100),
        "call_type_indicator": rng.choice(INDICATORS),
        "dispatch_neighborhood": rng.choice(NEIGHBORHOODS),
        "call_type_received_classification": rng.choice(CLASSIFICATIONS),
        # strictly increasing: the sink's last-writer-wins tie-break
        "processed_at": f"2026-01-01T{idx // 3600000 % 24:02d}:{idx // 60000 % 60:02d}:"
                        f"{idx // 1000 % 60:02d}.{idx % 1000:03d}000",
    }
    for d in DURATION_FIELDS:
        rec[d] = _dirty(rng)
    return rec


def _write_stream_files(rng, directory, files, records, first_key, idx0, repeat_frac,
                        latest=None, mtime0=BASE_EPOCH):
    """JSON-lines files, one micro-batch each. `latest` (key -> call_type of
    the last record written for that key) is updated in file order, which is
    the order the stream reads them (ascending modification time)."""
    os.makedirs(directory, exist_ok=True)
    latest = {} if latest is None else latest
    keys = []
    next_key = first_key
    idx = idx0
    for fi in range(files):
        path = os.path.join(directory, f"part-{fi:04d}.json")
        with open(path, "w") as f:
            for _ in range(records):
                if keys and rng.random() < repeat_frac:
                    key = rng.choice(keys)
                else:
                    key = next_key
                    next_key += 1
                    keys.append(key)
                rec = _stream_record(rng, key, idx)
                idx += 1
                latest[key] = rec["call_type"]
                f.write(json.dumps(rec, separators=(",", ":")) + "\n")
        os.utime(path, (mtime0 + fi, mtime0 + fi))
    return latest


def gen_stream(seed, out_dir, files, records, warmup_files):
    rng = random.Random(seed)
    _write_stream_files(rng, os.path.join(out_dir, "warmup"), warmup_files, records,
                        first_key=9000000000, idx0=0, repeat_frac=0.10)
    latest = _write_stream_files(rng, os.path.join(out_dir, "input"), files, records,
                                 first_key=2023000000, idx0=0, repeat_frac=0.10)
    in_dir = os.path.join(out_dir, "input")
    return {
        "input_rows": files * records,
        "input_bytes": sum(os.path.getsize(os.path.join(in_dir, n)) for n in os.listdir(in_dir)),
        "batches": files,
        "batch_rows": records,
        "distinct_keys": len(latest),
        "call_type_counts": dict(sorted(Counter(latest.values()).items())),
    }
