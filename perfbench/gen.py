"""Seeded input generators for the benchmark workloads.

Every generator takes the workload seed and writes files under an output
directory; the Spark program reads only these files. The same seed always
gives byte-identical inputs. The generators also hold the ground truth the
output checks compare against (``sheet_truth`` and friends); the truth is
computed here from the documented contract, never by the code under test.
"""
import csv
import datetime as dt
import os
import random
import re
import zoneinfo

import pyarrow as pa
import pyarrow.parquet as pq

CHICAGO = zoneinfo.ZoneInfo("America/Chicago")
UTC = dt.timezone.utc
SERIAL_EPOCH = dt.date(1899, 12, 30)
SERIAL_RE = re.compile(r"^-?\d+(\.\d+)?$")
SERIAL_MIN, SERIAL_MAX = -693593.0, 2958465.0

# The shipped habit mapping (sheet header, habit id, kind), in config order.
HABITS = [
    ("Sleep (Number of hours)", "sleep_hours", "number"),
    ("Nutrition", "nutrition_score", "number"),
    ("Mood", "mood_score", "number"),
    ("Meditation (Number of Minutes)", "meditation_minutes", "number"),
    ("Workout", "workout", "bool"),
    ("Water (How many litres?)", "water_liters", "number"),
    ("Skin Care", "skin_care", "bool"),
    ("How authentically did you live this day?", "authenticity_score", "number"),
]
COLUMNS = (["Timestamp", "Report Date", "Email Address"]
           + [h[0] for h in HABITS] + ["Notes"])
TRUTHY = {"yes", "true", "1", "y", "t", "on"}
BOOL_SPELLINGS = ["Yes", "yes", "YES", "y", "TRUE", "true", "t", "On", "1",
                  "No", "no", "NO", "n", "FALSE", "false", "off", "0"]
JUNK_NUMBERS = ["n/a", "?", "skip", "7,5", "--"]
PADDING = ["", "", "", " ", "\t", " "]

# sheet sizing: users x history days at bootstrap, one new day per ingest
SHEET_USERS = 10
SHEET_HISTORY_DAYS = 14
EDIT_SHARE = 0.01      # share of past rows edited before each ingest
MAX_INGESTS = 40


# ── date forms ────────────────────────────────────────────────────────────

def _serial(day):
    return (day - SERIAL_EPOCH).days


def _date_cell(rng, day):
    """One Report Date cell for `day`, in a randomly chosen accepted form."""
    form = rng.randrange(13)
    secs = rng.randrange(8 * 3600, 20 * 3600, 60)
    hh, mm, ss = secs // 3600, secs // 60 % 60, secs % 60
    m, d, y = day.month, day.day, day.year
    if form == 0:
        return str(_serial(day))
    if form == 1:
        return f"{_serial(day) + secs / 86400:.10f}"
    if form == 2:
        return f"{m}/{d}/{y}"
    if form == 3:
        return f"{y}-{m:02d}-{d:02d}"
    if form == 4:
        return f"{m}/{d}/{y % 100:02d}"
    if form == 5:
        return day.strftime("%b ") + f"{d}, {y}"
    if form == 6:
        return day.strftime("%B ") + f"{d}, {y}"
    if form == 7:
        return f"{y}-{m}-{d} {hh}:{mm:02d}:{ss:02d}"
    if form == 8:
        return f"{m}/{d}/{y} {hh}:{mm:02d}"
    if form == 9:
        return f"{m}/{d}/{y} {hh}:{mm:02d}:{ss:02d}"
    if form == 10:
        return f"{y}-{m:02d}-{d:02d}T{hh:02d}:{mm:02d}:00"
    if form == 11:
        return f"{y}-{m:02d}-{d:02d}T{hh:02d}:{mm:02d}:00-05:00"
    return f"{y}-{m:02d}-{d:02d}T{hh:02d}:{mm:02d}:00Z"


def _local_noon(day):
    return dt.datetime(day.year, day.month, day.day, 12, tzinfo=CHICAGO)


def parse_report_date(raw):
    """The report-date contract: Google/Excel serials (noon-anchored when
    date-only), date-only strings anchored at 12:00 America/Chicago,
    local wall datetimes, ISO-8601 with or without an offset. Returns a
    naive UTC datetime, or None when nothing parses (the row is dropped).
    Two-digit years read as 20yy."""
    s = raw.strip()
    num = float(s) if SERIAL_RE.match(s) else None
    if num is not None and SERIAL_MIN <= num <= SERIAL_MAX:
        whole = int(num)
        secs = round((num - whole) * 86400.0)
        wall = (dt.datetime.combine(SERIAL_EPOCH, dt.time())
                + dt.timedelta(days=whole, seconds=secs))
        if secs == 0:
            wall = wall.replace(hour=12)
        return wall.replace(tzinfo=CHICAGO).astimezone(UTC).replace(tzinfo=None)
    for fmt in ("%m/%d/%Y", "%Y-%m-%d", "%m/%d/%y", "%b %d, %Y", "%B %d, %Y"):
        try:
            day = dt.datetime.strptime(s, fmt).date()
        except ValueError:
            continue
        return _local_noon(day).astimezone(UTC).replace(tzinfo=None)
    for fmt in ("%Y-%m-%d %H:%M:%S", "%m/%d/%Y %H:%M", "%m/%d/%Y %H:%M:%S"):
        try:
            wall = dt.datetime.strptime(s, fmt)
        except ValueError:
            continue
        return wall.replace(tzinfo=CHICAGO).astimezone(UTC).replace(tzinfo=None)
    try:
        t = dt.datetime.fromisoformat(s)
    except ValueError:
        return None
    if t.tzinfo is None:
        t = t.replace(tzinfo=CHICAGO)
    return t.astimezone(UTC).replace(tzinfo=None)


def row_events(row):
    """Events of one sheet row under the transform contract: rows without
    an email or a parseable date yield nothing; blank cells are skipped;
    bools map the truthy spellings to 1.0 and anything else to 0.0;
    numbers that do not parse are skipped. Returns {key: (value, notes)}
    with key = (user_email, habit, ts)."""
    date, email = row["Report Date"], row["Email Address"]
    if not date or not email:
        return {}
    ts = parse_report_date(date)
    if ts is None:
        return {}
    user = email.strip().lower()
    notes = f"Notes: {row['Notes']}" if row["Notes"] else None
    out = {}
    for header, habit, kind in HABITS:
        raw = row[header]
        if raw is None or raw.strip() == "":
            continue
        if kind == "bool":
            value = 1.0 if raw.strip().lower() in TRUTHY else 0.0
        else:
            try:
                value = float(raw.strip())
            except ValueError:
                continue
        out[(user, habit, ts)] = (value, notes)
    return out


# ── habits_daily: the messy wide sheet ────────────────────────────────────

def _habit_cell(rng, kind):
    r = rng.random()
    if r < 0.06:
        return rng.choice(PADDING[:4])           # blank or whitespace-only
    if kind == "bool":
        v = rng.choice(BOOL_SPELLINGS)
    elif r < 0.09:
        v = rng.choice(JUNK_NUMBERS)
    else:
        v = rng.choice([str(rng.randrange(0, 11)),
                        f"{rng.randrange(0, 100) / 10:.1f}"])
    return rng.choice(PADDING) + v + rng.choice(PADDING)


def _email_cell(rng, u):
    e = f"User{u}@Example.com" if rng.random() < 0.5 else f"user{u}@example.com"
    return rng.choice(PADDING) + e + rng.choice(PADDING)


def _sheet_row(rng, u, day):
    row = {"Timestamp": f"{day.month}/{day.day}/{day.year} 21:{rng.randrange(60):02d}:00",
           "Report Date": _date_cell(rng, day),
           "Email Address": _email_cell(rng, u)}
    for header, _, kind in HABITS:
        row[header] = _habit_cell(rng, kind)
    row["Notes"] = rng.choice(["", "", "", "good day", "travel", "sick, rested"])
    return row


class Sheet:
    """The sheet tab as successive full snapshots (what `get_all_records`
    returns on each cron run). Snapshot 0 is the bootstrap history; each
    later snapshot appends one new day of rows, edits a small share of
    past rows in place and now and then appends junk or duplicate rows."""

    def __init__(self, seed):
        self.rng = random.Random(seed * 7919 + 1)
        # the bootstrap history always spans the 2024-03-10 DST change,
        # so the sheet holds both winter and summer offsets
        self.start = dt.date(2024, 2, 26) + dt.timedelta(days=self.rng.randrange(9))
        self.rows = []       # list of [row dict, group id]
        self.groups = {}     # group id -> indices of identical copies
        self.day = 0
        for _ in range(SHEET_HISTORY_DAYS):
            self._append_day()

    def _append(self, row):
        gid = len(self.groups)
        self.groups[gid] = [len(self.rows)]
        self.rows.append([row, gid])
        return gid

    def _append_day(self):
        rng = self.rng
        day = self.start + dt.timedelta(days=self.day)
        self.day += 1
        for u in range(SHEET_USERS):
            if rng.random() < 0.05:
                continue                       # user skipped the form today
            gid = self._append(_sheet_row(rng, u, day))
            if rng.random() < 0.03:            # double submit, identical row
                self.groups[gid].append(len(self.rows))
                self.rows.append([dict(self.rows[self.groups[gid][0]][0]), gid])
        if rng.random() < 0.3:                 # row missing email or date
            bad = _sheet_row(rng, rng.randrange(SHEET_USERS), day)
            bad[rng.choice(["Email Address", "Report Date"])] = ""
            self._append(bad)

    def next_snapshot(self):
        rng = self.rng
        n_edit = max(1, int(len(self.groups) * EDIT_SHARE))
        for gid in rng.sample(sorted(self.groups), n_edit):
            src = self.rows[self.groups[gid][0]][0]
            if not src["Report Date"] or not src["Email Address"]:
                continue
            edited = dict(src)
            if rng.random() < 0.3:
                edited["Notes"] = rng.choice(["", "edited later", "late note"])
            else:
                header, _, kind = rng.choice(HABITS)
                edited[header] = _habit_cell(rng, kind)
            for i in self.groups[gid]:          # copies stay identical
                self.rows[i][0] = dict(edited)
        self._append_day()

    def write_csv(self, path):
        with open(path, "w", newline="", encoding="utf-8") as f:
            w = csv.DictWriter(f, fieldnames=COLUMNS)
            w.writeheader()
            for row, _ in self.rows:
                w.writerow(row)

    def events(self):
        out = {}
        for row, _ in self.rows:
            out.update(row_events(row))
        return out


def gen_sheets(seed, out_dir, n_ingests=MAX_INGESTS):
    """Write sheet_000.csv (bootstrap) .. sheet_<n>.csv (one per ingest)."""
    os.makedirs(out_dir, exist_ok=True)
    sheet = Sheet(seed)
    sheet.write_csv(os.path.join(out_dir, "sheet_000.csv"))
    for k in range(1, n_ingests + 1):
        sheet.next_snapshot()
        sheet.write_csv(os.path.join(out_dir, f"sheet_{k:03d}.csv"))


def sheet_truth(seed, n_ingests):
    """Store state after the bootstrap and `n_ingests` ingests, plus the
    per-ingest batch sizes and changed-event counts:
    ({key: (value, notes)}, [(batch_events, changed_events)])."""
    sheet = Sheet(seed)
    store = {}
    for key, (value, notes) in sheet.events().items():
        store[key] = (value, notes)
    per_ingest = []
    for _ in range(n_ingests):
        sheet.next_snapshot()
        batch = sheet.events()
        changed = 0
        for key, (value, notes) in batch.items():
            old = store.get(key)
            new = (value, notes if notes is not None else (old[1] if old else None))
            if old != new:
                changed += 1
            store[key] = new
        per_ingest.append((len(batch), changed))
    return store, per_ingest


# ── stream_ticks: tick files in the sf table schemas ──────────────────────

EVENT_TYPES = ["workout", "mood_score", "meditation_minutes", "sleep_hours",
               "water_liters", "skin_care"]
STOPWORDS = {"en": ["the", "a", "and", "of", "to", "in", "is", "it", "that", "for"],
             "es": ["el", "la", "de", "que", "y", "en", "un", "los", "se", "no"],
             "de": ["der", "die", "das", "und", "ist", "von", "mit", "den", "nicht", "ein"],
             "fr": ["le", "les", "des", "et", "une", "est", "pour", "dans", "qui", "pas"]}


def _vocabulary(n=600):
    """A fixed vocabulary of pronounceable content words (the same for
    every seed), large enough that unrelated documents share few
    shingles; near-duplicates are planted explicitly."""
    rng = random.Random(0)
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice("bcdfghklmnprstvz") + rng.choice("aeiou")
                          for _ in range(rng.randrange(2, 4))))
    return sorted(words)


WORDS = _vocabulary()
STREAM_TICKS = 40
TICK_EVENTS = 40
TICK_DOCS = 12
CMS_VALUES = [f"v{i}" for i in range(24)]

EVENT_SCHEMA = pa.schema([("event_id", pa.int64()),
                          ("ts", pa.timestamp("us", tz="UTC")),
                          ("user_id", pa.int64()), ("event_type", pa.string()),
                          ("value", pa.float64()), ("props", pa.string())])
DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())])


def _doc_text(rng):
    """Word soup in one language: content words drawn with a Zipf-like
    skew, a share of the language's stopwords ('zh' documents carry no
    stopwords, as in the sf tables)."""
    lang = rng.choice(["en"] * 6 + ["fr", "de", "es", "zh"])
    stop = STOPWORDS.get(lang, [])
    words = []
    for _ in range(rng.randrange(12, 70)):
        if stop and rng.random() < 0.3:
            words.append(rng.choice(stop))
        else:
            words.append(WORDS[min(int(rng.paretovariate(1.1)) - 1, len(WORDS) - 1)
                               if rng.random() < 0.5 else rng.randrange(len(WORDS))])
    return " ".join(words), lang


def _near_dup(rng, text):
    words = text.split(" ")
    for _ in range(1 + len(words) // 40):
        words[rng.randrange(len(words))] = rng.choice(WORDS)
    return " ".join(words)


def _doc_rows(rng, ids, pool):
    rows = []
    for doc_id in ids:
        if pool and rng.random() < 0.2:
            text, lang = rng.choice(pool)
            text = _near_dup(rng, text)
        else:
            text, lang = _doc_text(rng)
        pool.append((text, lang))
        rows.append({"doc_id": doc_id, "text": text, "lang": lang,
                     "source": f"src{rng.randrange(20)}", "n_chars": len(text)})
    return rows


def _write(rows, schema, path):
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)


def gen_ticks(seed, out_dir, n_ticks=STREAM_TICKS):
    """Write one parquet file per tick for each stream kind under
    out_dir/<kind>/tick_<n>.parquet."""
    rng = random.Random(seed * 104729 + 3)
    for kind in ("upsert", "rollup", "dedup", "cluster", "cms"):
        os.makedirs(os.path.join(out_dir, kind), exist_ok=True)
    t0 = dt.datetime(2024, 3, 1, tzinfo=UTC) + dt.timedelta(days=rng.randrange(60))
    next_id = 0
    seen_keys = []
    pools = {"dedup": [], "cluster": []}
    for t in range(n_ticks):
        base = t0 + dt.timedelta(hours=2 * t)
        for kind in ("upsert", "rollup"):
            rows, keys = [], set()
            while len(rows) < TICK_EVENTS:
                if kind == "upsert" and seen_keys and rng.random() < 0.15:
                    user, etype, ts = rng.choice(seen_keys)     # late edit
                else:
                    user = rng.randrange(1, 16)
                    etype = rng.choice(EVENT_TYPES)
                    ts = base + dt.timedelta(seconds=rng.randrange(0, 7200))
                if (user, etype, ts) in keys:
                    continue
                keys.add((user, etype, ts))
                props = rng.choice([None, None, "src=form", "src=app"])
                rows.append({"event_id": next_id, "ts": ts, "user_id": user,
                             "event_type": etype,
                             "value": float(rng.randrange(0, 40)) / 4,
                             "props": props})
                next_id += 1
            if kind == "upsert":
                seen_keys.extend(keys)
            _write(rows, EVENT_SCHEMA,
                   os.path.join(out_dir, kind, f"tick_{t:04d}.parquet"))
        cms_rows = []
        for _ in range(TICK_EVENTS):
            v = CMS_VALUES[min(int(rng.expovariate(0.25)), len(CMS_VALUES) - 1)]
            cms_rows.append({"event_id": next_id, "ts": base, "user_id": 0,
                             "event_type": v, "value": 1.0, "props": None})
            next_id += 1
        _write(cms_rows, EVENT_SCHEMA,
               os.path.join(out_dir, "cms", f"tick_{t:04d}.parquet"))
        for kind in ("dedup", "cluster"):
            ids = range(t * TICK_DOCS, (t + 1) * TICK_DOCS)
            _write(_doc_rows(rng, ids, pools[kind]), DOC_SCHEMA,
                   os.path.join(out_dir, kind, f"tick_{t:04d}.parquet"))


# ── corpus_batch: documents + embeddings with planted near-duplicates ─────

CORPUS_DOCS = 2500
CORPUS_VECS = 1000
VEC_DIM = 64


def html_page(doc_id, text):
    """The rendered page of one document: a fixed HTML shell around the
    text, with an entity-laden tail (id % 3), a quoted-attribute anchor
    (id % 7), a comment (id % 5) and two trailing paragraphs, an all-link
    nav bar (id % 4) and prose with one link (id % 7)."""
    return ("<html><head><title>Doc</title><style>p { margin: 0; }</style>"
            '<script>if (1 < 2) { alert("x &amp; y"); }</script></head><body>'
            + ("<!-- boilerplate comment words -->" if doc_id % 5 == 0 else "")
            + '<h1 class="hd">Heading &amp; intro</h1><p>' + (text or "") + "</p>"
            + ("<p>Tail &lt;tagged&gt; &quot;quoted&quot;&nbsp;entity&#39;s "
               "&apos;end&apos; hex&#x27;s zero&#039;d dash&#8211;here "
               "amp&#38;lt;kept &#x2019;curly&#8217;</p>" if doc_id % 3 == 0 else "")
            + ("<a title=\"a>b\" class='c>d'>quoted attr text</a>" if doc_id % 7 == 0 else "")
            + "</body></html>"
            + ('<p><a href="/">Home</a> <a href="/a">About</a> '
               '<a href="/c">Contact</a></p>' if doc_id % 4 == 0 else "")
            + ('<p>Read the <a href="/x">full story</a> and much more '
               "prose follows here today</p>" if doc_id % 7 == 0 else ""))


def gen_corpus(seed, out_dir, n_docs=CORPUS_DOCS, n_vecs=CORPUS_VECS):
    """documents.parquet and embeddings.parquet in the sf table schemas."""
    rng = random.Random(seed * 15485863 + 5)
    os.makedirs(out_dir, exist_ok=True)
    docs = _doc_rows(rng, range(n_docs), [])
    centers = [[rng.gauss(0, 1) for _ in range(VEC_DIM)] for _ in range(10)]
    vecs = []
    for vid in range(n_vecs):
        label = rng.randrange(10)
        v = [c + rng.gauss(0, 0.6) for c in centers[label]]
        norm = sum(x * x for x in v) ** 0.5
        vecs.append({"vec_id": vid, "embedding": [x / norm for x in v],
                     "label": label})
    _write(docs, DOC_SCHEMA, os.path.join(out_dir, "documents.parquet"))
    _write([{"doc_id": x["doc_id"], "page": html_page(x["doc_id"], x["text"])} for x in docs],
           pa.schema([("doc_id", pa.int64()), ("page", pa.string())]),
           os.path.join(out_dir, "pages.parquet"))
    _write(vecs, pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                            ("label", pa.int32())]),
           os.path.join(out_dir, "embeddings.parquet"))
