"""Seeded Canal flat-JSON change feed for the meeting pipeline, and the
last-writer-wins replay that the final sink table is checked against.

Every change to a meeting gets a strictly later `es` than the one
before it, and files are rendered in `es` order, so the replay below is
the exact answer the sink must reach (see NOTES.md, "Known limits").
"""
import json
import os
import random

N_ROOMS, N_LOCATIONS, N_CITIES = 400, 40, 12
DANGLING_ROOMS = 4  # address ids with no dimension row: the left join keeps them
DB = "meeting"
MEETING_TYPES = {"id": "int(11)", "meeting_code": "varchar(64)", "address_id": "int(11)",
                 "mstart_date": "datetime", "mend_date": "datetime",
                 "status": "tinyint(4)", "update_time": "datetime"}
MEETING_SQLTYPES = {"id": 4, "meeting_code": 12, "address_id": 4, "mstart_date": 93,
                    "mend_date": 93, "status": -6, "update_time": 93}
_dumps = json.JSONEncoder(separators=(",", ":")).encode
_MT, _MST = _dumps(MEETING_TYPES), _dumps(MEETING_SQLTYPES)
ENVELOPE = ('{"data":%s,"database":"' + DB + '","es":%d,"id":%d,"isDdl":%s,"mysqlType":%s,'
            '"old":%s,"sql":%s,"sqlType":%s,"table":"%s","ts":%d,"type":"%s"}')


def dimension(seed):
    """Room rows: (room_id, room_name, location_id, location_name, city)."""
    rng = random.Random(f"dim-{seed}")
    loc = {i: (f"location-{i}", f"city-{rng.randrange(N_CITIES)}") for i in range(1, N_LOCATIONS + 1)}
    rows = []
    for r in range(1, N_ROOMS + 1):
        li = rng.randrange(1, N_LOCATIONS + 1)
        rows.append((r, f"room-{r}", li, loc[li][0], loc[li][1]))
    return rows


def _ts(sec):
    h, m = divmod(sec // 60 % 1440, 60)
    return f"2026-10-{1 + sec // 86400 % 28:02d} {h:02d}:{m:02d}:00"


class Feed:
    """Stateful change generator. `changes` keeps (meeting_id, op, es, row)
    for every row it emits, in emission order, for the replay oracle."""

    def __init__(self, seed, es0=1_790_000_000_000):
        self.rng = random.Random(seed)
        self.es = es0
        self.eid = 0
        self.live = []          # meeting ids currently present
        self.pos = {}           # meeting id -> index in live
        self.row = {}           # meeting id -> current row
        self.changes = []

    def _add(self, mid, row):
        self.pos[mid] = len(self.live)
        self.live.append(mid)
        self.row[mid] = row

    def _remove(self, mid):
        i = self.pos.pop(mid)
        last = self.live.pop()
        if last != mid:
            self.live[i] = last
            self.pos[last] = i
        del self.row[mid]

    def _new_row(self, mid):
        rng = self.rng
        start = rng.randrange(0, 28 * 86400, 1800)
        return {"id": str(mid), "meeting_code": f"MC{mid}-0",
                "address_id": str(rng.randrange(1, N_ROOMS + DANGLING_ROOMS + 1)),
                "mstart_date": _ts(start), "mend_date": _ts(start + 3600),
                "status": "1", "update_time": _ts(start - 86400)}

    def _envelope(self, table, op, data, old=None, types=None, sqltypes=None, ddl=False, sql=""):
        self.es += 1
        self.eid += 1
        return ENVELOPE % (_dumps(data), self.es, self.eid, "true" if ddl else "false",
                           types or "null", _dumps(old), _dumps(sql), sqltypes or "null",
                           table, self.es + 5, op)

    def meeting(self, op, mids, rows, olds=None):
        """One t_meeting_info envelope carrying `rows` (one per meeting)."""
        line = self._envelope("t_meeting_info", op, rows, olds, _MT, _MST)
        for mid, row in zip(mids, rows):
            self.changes.append((mid, op, self.es, row))
        return line

    def insert(self, mids):
        rows = [self._new_row(m) for m in mids]
        for m, r in zip(mids, rows):
            self._add(m, r)
        return self.meeting("INSERT", mids, rows)

    def update(self, mids):
        rng, rows, olds = self.rng, [], []
        for m in mids:
            cur, new = self.row[m], dict(self.row[m])
            kind = rng.random()
            if kind < 0.5:
                new["address_id"] = str(rng.randrange(1, N_ROOMS + DANGLING_ROOMS + 1))
            elif kind < 0.8:
                new["meeting_code"] = f"MC{m}-{self.es + 1}"
            new["update_time"] = _ts(rng.randrange(0, 28 * 86400))
            olds.append({k: cur[k] for k in new if new[k] != cur[k]})
            rows.append(new)
            self.row[m] = new
        return self.meeting("UPDATE", mids, rows, olds)

    def delete(self, mids):
        rows = [self.row[m] for m in mids]
        for m in mids:
            self._remove(m)
        return self.meeting("DELETE", mids, rows)

    def noise(self):
        """An envelope the pipeline must drop: another table, or DDL."""
        if self.rng.random() < 0.2:
            return self._envelope("t_meeting_info", "ALTER", None, ddl=True,
                                  sql="ALTER TABLE t_meeting_info ADD COLUMN note varchar(64)")
        table = self.rng.choice(["t_meeting_room", "t_user"])
        return self._envelope(table, "UPDATE", [{"id": str(self.rng.randrange(1000)),
                                                 "name": "x"}], [{"name": "y"}])

    def pick(self, k, skew):
        """k distinct live meetings; `skew` > 1 favours a hot few."""
        out = set()
        while len(out) < min(k, len(self.live)):
            out.add(self.live[int(len(self.live) * self.rng.random() ** skew)])
        return sorted(out)


def paced_files(seed, n_files, per_file=500, live=3000, warm_files=8):
    """Update-heavy traffic skewed over a few thousand live meetings.
    The warm-up files insert the initial live set. Returns (files, feed)
    where files[i] is a list of (line, n_changes)."""
    feed = Feed(seed)
    rng = feed.rng
    next_id = 1
    boot = iter(range(live))
    files = []
    for f in range(n_files):
        lines, n = [], 0
        while n < per_file:
            k = min(per_file - n, rng.randint(2, 5) if rng.random() < 0.1 else 1)
            r = rng.random()
            if f < warm_files and next(boot, None) is not None:
                mids = list(range(next_id, next_id + k))
                next_id += k
                line = feed.insert(mids)
            elif r < 0.8 and feed.live:
                mids = feed.pick(k, 3.0)
                line = feed.update(mids)
            elif r < 0.9 or len(feed.live) < k:
                mids = list(range(next_id, next_id + k))
                next_id += k
                line = feed.insert(mids)
            else:
                mids = feed.pick(k, 1.0)
                line = feed.delete(mids)
            lines.append((line, len(mids)))
            n += len(mids)
            if rng.random() < 0.05:
                lines.append((feed.noise(), 0))
        files.append(lines)
    return files, feed


def backlog_files(seed, n_changes, per_file=5000, id_space=1_000_000):
    """Insert-heavy traffic over a million meeting ids, with bulk inserts."""
    feed = Feed(seed)
    rng = feed.rng
    # i -> (i * 7919 + offset) mod id_space is a bijection (7919 is prime
    # and shares no factor with 10^6), so fresh ids never repeat
    offset = random.Random(f"ids-{seed}").randrange(id_space)
    fresh = ((i * 7919 + offset) % id_space + 1 for i in range(id_space))
    files, lines, n, total = [], [], 0, 0
    while total < n_changes:
        r = rng.random()
        if r < 0.75 or len(feed.live) < 10:
            k = rng.randint(2, 8) if rng.random() < 0.3 else 1
            k = min(k, per_file - n, n_changes - total)
            mids = [next(fresh) for _ in range(k)]
            line = feed.insert(mids)
        else:
            k = min(rng.randint(1, 3), per_file - n, n_changes - total)
            mids = feed.pick(k, 1.0)
            line = feed.update(mids) if r < 0.92 else feed.delete(mids)
        lines.append((line, len(mids)))
        n += len(mids)
        total += len(mids)
        if rng.random() < 0.03:
            lines.append((feed.noise(), 0))
        if n >= per_file or total >= n_changes:
            files.append(lines)
            lines, n = [], 0
    return files, feed


def write_files(files, out_dir, mtime0=None):
    """Write f000000.json ...; with `mtime0` (epoch seconds) stamp file i
    at mtime0 + i so the file source takes them in order."""
    os.makedirs(out_dir, exist_ok=True)
    for i, lines in enumerate(files):
        p = os.path.join(out_dir, f"f{i:06d}.json")
        with open(p, "w") as fh:
            fh.write("\n".join(line for line, _ in lines))
            fh.write("\n")
        if mtime0 is not None:
            os.utime(p, (mtime0 + i, mtime0 + i))


def replay(changes, dim):
    """Last writer wins by `es` per meeting, left-joined to the room
    dimension: the rows `meeting_result` must hold, as strings, with
    None for SQL NULL, sorted by meeting id."""
    last = {}
    for mid, op, es, row in changes:
        if mid not in last or es > last[mid][1]:
            last[mid] = (op, es, row)
    rooms = {r[0]: r for r in dim}
    out = []
    for mid in sorted(last):
        op, _, row = last[mid]
        if op == "DELETE":
            continue
        room = rooms.get(int(row["address_id"]))
        out.append((str(mid), row["meeting_code"]) +
                   ((str(room[0]), room[1], room[3], room[4]) if room else (None,) * 4))
    return out


def tsv(rows):
    return "".join("\t".join("\\N" if v is None else str(v) for v in r) + "\n" for r in rows)
