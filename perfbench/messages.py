"""Seeded generator of the Kafka-shaped ingest backlog and its truth.

Messages are `{"topic": ..., "value": ...}` JSON lines, the shape the
`dir:` source of `IngestMain` reads, written `per_file` to a file. One
vision topic and the seven air-quality topics of the reference's
`config.yaml`, a fixed set of cameras and sensors, timestamps rising in
offset order with bounded jitter, `locations` arrays of varying length
and `hit_counts` on only some vision messages.

A small dirty share exercises every gate of the pipeline (null
timestamp, a 1970 timestamp, a `nan` key) and both dead-letter reasons
(unknown topic, malformed JSON). Each dirty message carries exactly one
defect, so the truth below is exact.
"""
import bisect
import datetime
import os
import random

VISION = "cuip_vision_events"
AQ_TOPICS = [f"{site}_AIR_QUALITY" for site in
             ("MLK", "PEEPLES", "GEORGIA", "HOUSTON", "LINDSAY", "MCCALLIE", "PATTEN")]
UNKNOWN = "cuip_debug_events"
CAMERAS = [f"cam-{i:02d}" for i in range(4)]
SENSORS = {t: f"{t.split('_')[0].lower()}-1" for t in AQ_TOPICS}
LABELS = ["car", "pedestrian", "bus", "bike", "truck"]
START_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
STEP_MS = 30_000              # mean spacing of consecutive offsets
JITTER_MS = 600_000           # bounded out-of-order-ness
DIRTY = ["null_ts", "epoch_1970", "nan_key", "unknown_topic", "malformed_json"]
DIRTY_SHARE = 0.02
NAN_KEYS = ["nan", "NaN", None]
FIELDS = DIRTY + ["rows_in", "rows_out"]
# first millisecond of each month the backlog can reach, for leaf truth
MONTHS = [(int(datetime.datetime(y, m, 1, tzinfo=datetime.timezone.utc)
               .timestamp() * 1000), y, m)
          for y in range(2023, 2040) for m in range(1, 13)]
MONTH_STARTS = [m[0] for m in MONTHS]


def _message(rng, offset):
    """Return (topic, value, defect, table, key, ts) for one offset."""
    r = rng.random
    ts = START_MS + offset * STEP_MS + int((2 * r() - 1) * JITTER_MS)
    defect = DIRTY[int(r() * len(DIRTY))] if r() < DIRTY_SHARE else None
    if defect == "epoch_1970":
        ts = int(r() * 30 * 86_400_000)
    ts_field = "" if defect == "null_ts" else f'"timestamp": {ts}, '
    if r() < 0.5:
        topic, table = VISION, "vision"
        key = CAMERAS[int(r() * len(CAMERAS))]
        locs = ", ".join(
            f'{{"x": {r() * 1920:.1f}, "y": {r() * 1080:.1f}, '
            f'"label": "{LABELS[int(r() * len(LABELS))]}"}}'
            for _ in range(int(r() * 7)))
        hits = f', "hit_counts": {int(r() * 13)}' if r() < 0.4 else ""
        if defect == "nan_key":
            key = NAN_KEYS[int(r() * len(NAN_KEYS))]
        key_json = "null" if key is None else f'"{key}"'
        value = f'{{{ts_field}"camera_id": {key_json}, "locations": [{locs}]{hits}}}'
    else:
        topic = AQ_TOPICS[int(r() * len(AQ_TOPICS))]
        table, key = "air_quality", SENSORS[topic]
        if defect == "nan_key":
            key = NAN_KEYS[int(r() * len(NAN_KEYS))]
        key_json = "null" if key is None else f'"{key}"'
        value = (f'{{{ts_field}"nicename": {key_json}, "pm25": {r() * 80:.2f}, '
                 f'"temperature": {r() * 40 - 5:.1f}}}')
    if defect == "unknown_topic":
        topic = UNKNOWN
    elif defect == "malformed_json":
        # cut inside the first field name: no field value survives, so
        # the decode yields nulls whatever the parser keeps of a prefix
        value = value[:12]
    return topic, value, defect, table, key, ts


def generate(seed, n_files, per_file, directory):
    """Write `n_files` JSON-lines files; return the truth.

    Truth: `leaves` maps "table/entity/year/month" to landed rows,
    `files` holds per-file counts for every gate and dead-letter
    reason plus the known-topic rows in (`rows_in`) and out
    (`rows_out`) of the transforms.
    """
    rng = random.Random(seed)
    os.makedirs(directory, exist_ok=True)
    leaves, files = {}, []
    offset = 0
    for f in range(n_files):
        counts = dict.fromkeys(FIELDS, 0)
        lines = []
        for _ in range(per_file):
            topic, value, defect, table, key, ts = _message(rng, offset)
            offset += 1
            escaped = value.replace('"', '\\"')
            lines.append(f'{{"topic": "{topic}", "value": "{escaped}"}}')
            if defect == "unknown_topic":
                counts["unknown_topic"] += 1
                continue
            counts["rows_in"] += 1
            if defect is not None:
                # a malformed row decodes to nulls: the null-ts gate drops it
                counts["null_ts" if defect == "malformed_json" else defect] += 1
                if defect == "malformed_json":
                    counts["malformed_json"] += 1
                continue
            counts["rows_out"] += 1
            _, year, month = MONTHS[bisect.bisect_right(MONTH_STARTS, ts) - 1]
            leaf = f"{table}/{key}/{year}/{month}"
            leaves[leaf] = leaves.get(leaf, 0) + 1
        with open(os.path.join(directory, f"part-{f:05d}.json"), "w") as out:
            out.write("\n".join(lines) + "\n")
        files.append(counts)
    return {"leaves": leaves, "files": files}
