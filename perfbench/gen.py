"""Seeded input generators for the benchmark workloads.

Every generator takes a `random.Random` built from the run's --seed, so the
same seed writes the same files. The program only ever sees these files.
"""
import os

import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------- pipeline A

# AppName domain of the interaction logs (FIXTURES.md A1). Matching is
# case-sensitive, so `kplus` and `Vod` are unmapped like `FOO`.
MAPPED_APPS = ["CHANNEL", "DSHD", "KPLUS", "KPlus", "VOD", "FIMS_RES",
               "BHD_RES", "VOD_RES", "FIMS", "BHD", "DANET", "RELAX",
               "CHILD", "SPORT"]
UNMAPPED_APPS = ["FOO", "kplus", "Vod", "IPTV"]
# one app per content type, for the rows that build exact duration ties
TIE_APPS = ["CHANNEL", "VOD", "RELAX", "CHILD", "SPORT"]
A_CONTRACTS = 3000
A_DAYS = ["202204%02d" % d for d in range(1, 31)]
ROW = ('{"_index":"history","_type":"kplus","_id":"AX%010d","_score":0,'
       '"_source":{"Contract":%s,"Mac":"%012X","TotalDuration":%s,"AppName":%s}}')


def _js(v):
    return "null" if v is None else '"%s"' % v


def interaction_logs(rng, out_dir):
    """30 NDJSON day files. Each contract is active on 1-30 days (every
    Level_Activeness band appears); 1 in 20 contracts logs every row as a
    pair of equal durations on two content types, so totals tie exactly
    and the Most Watched priority decides. Also: Contract '0' sentinel
    rows, unmapped AppNames, KPLUS and KPlus, NULL Contract, AppName and
    TotalDuration. Returns the number of rows written."""
    os.makedirs(out_dir, exist_ok=True)
    per_day = {d: [] for d in A_DAYS}
    n_id = 0

    def row(contract, duration, app):
        nonlocal n_id
        n_id += 1
        return ROW % (n_id, _js(contract), rng.getrandbits(48),
                      "null" if duration is None else duration, _js(app))

    for c in range(A_CONTRACTS):
        contract = "SGH%06d" % c
        days = rng.sample(A_DAYS, rng.randint(1, 30))
        tie = c % 20 == 0
        for d in days:
            for _ in range(rng.randint(1, 3)):
                dur = rng.randint(0, 86400) if rng.random() > 0.01 else None
                if tie:
                    a, b = rng.sample(TIE_APPS, 2)
                    per_day[d].append(row(contract, dur, a))
                    per_day[d].append(row(contract, dur, b))
                    continue
                r = rng.random()
                if r < 0.02:
                    app = rng.choice(UNMAPPED_APPS)
                elif r < 0.025:
                    app = None
                else:
                    app = rng.choice(MAPPED_APPS)
                per_day[d].append(row(contract, dur, app))
    rows = 0
    for d in A_DAYS:
        lines = per_day[d]
        for _ in range(len(lines) // 100):  # sentinel and NULL contracts
            lines.append(row("0", rng.randint(0, 86400), rng.choice(MAPPED_APPS)))
            lines.append(row(None, rng.randint(0, 86400), rng.choice(MAPPED_APPS)))
        rng.shuffle(lines)
        with open(os.path.join(out_dir, d + ".json"), "w") as f:
            f.write("\n".join(lines) + "\n")
        rows += len(lines)
    return rows


# --------------------------------------------------------------- pipeline B

# The keyword classifier's rule vocabulary (pattern -> category), as the
# program documents it. A generated keyword contains exactly one of these
# patterns, so its category is known without relying on rule order.
RULES = [
    ("vtv", "TV Channel"), ("htv", "TV Channel"), ("channel", "TV Channel"),
    ("kênh", "TV Channel"), ("kenh", "TV Channel"),
    ("running", "Reality Show"), ("master key", "Reality Show"),
    ("reality", "Reality Show"), ("show", "Reality Show"),
    ("bóng đá", "Sports"), ("bong da", "Sports"), ("world cup", "Sports"),
    ("sport", "Sports"), ("sea games", "Sports"), ("thể thao", "Sports"),
    ("thời sự", "News"), ("tin tức", "News"), ("news", "News"),
    ("nhạc", "Music"), ("nhac", "Music"), ("music", "Music"),
    ("karaoke", "Music"),
    ("hoạt hình", "Animation"), ("anime", "Animation"),
    ("doraemon", "Animation"), ("pokemon", "Animation"),
    ("ma ", "Horror"), ("kinh dị", "Horror"), ("horror", "Horror"),
    ("bigfoot", "Horror"),
    ("romantic", "Romance"), ("love", "Romance"), ("tình yêu", "Romance"),
    ("cặp đôi", "Romance"), ("capdoi", "Romance"),
    ("hài", "Comedy"), ("comedy", "Comedy"), ("funny", "Comedy"),
    ("action", "Action"), ("hành động", "Action"),
    ("c drama", "C Drama"), ("trung quốc", "C Drama"),
    ("k drama", "K Drama"), ("hàn quốc", "K Drama"), ("korea", "K Drama"),
    ("phim", "Drama"), ("drama", "Drama"), ("tập", "Drama")]
# filler alphabet: no vowels and none of v/t/h, so filler can never spell
# a pattern on its own
FILLER = "bcdfgjkqxz0123456789"
B_USERS = 9000
B_JUNE = ["202206%02d" % d for d in range(1, 15)]
B_JULY = ["202207%02d" % d for d in range(1, 15)]
SEARCH_SCHEMA = pa.schema([
    ("eventID", pa.string()), ("datetime", pa.string()),
    ("user_id", pa.string()), ("keyword", pa.string()),
    ("category", pa.string()), ("proxy_isp", pa.string()),
    ("platform", pa.string()), ("networkType", pa.string()),
    ("action", pa.string()), ("userPlansMap", pa.list_(pa.string()))])


def _filler(rng):
    return "".join(rng.choice(FILLER) for _ in range(rng.randint(2, 5)))


def _keyword(rng):
    """(keyword, category): one rule pattern with filler words around it,
    or filler only (category Other). Rejected and redrawn if the
    normalized text matches any other pattern (e.g. 'drama ' contains
    'ma ')."""
    while True:
        if rng.random() < 0.15:
            kw, cat, pat = " ".join(_filler(rng) for _ in range(2)), "Other", None
        else:
            pat, cat = rng.choice(RULES)
            words = [_filler(rng) for _ in range(rng.randint(0, 2))]
            words.insert(rng.randint(0, len(words)), pat.strip())
            kw = " ".join(words)
            if pat.endswith(" "):  # the pattern needs its trailing space
                kw = kw.replace(pat.strip(), pat, 1).rstrip() + " " + _filler(rng)
            if pat.isascii() and rng.random() < 0.2:
                kw = kw.upper()  # the classifier lower-cases and trims
        norm = kw.strip().lower()
        hits = [p for p, _ in RULES if p in norm]
        if hits == ([pat] if pat else []):
            return (" " + kw if rng.random() < 0.05 else kw), cat


def search_logs(rng, out_dir):
    """14 June and 14 July parquet day directories. Users overlap partly
    between months; each user draws keywords from a Zipf-like popular set
    plus a long tail of one-off keywords; 1 in 8 users searches two
    keywords equally often (a count tie); some rows have NULL user_id or
    keyword. Returns (rows, labels) with labels keyword -> category."""
    popular = [_keyword(rng) for _ in range(3000)]
    cum, acc = [], 0.0
    for i in range(len(popular)):
        acc += 1.0 / (i + 1)
        cum.append(acc)

    def draw():
        return rng.choices(popular, cum_weights=cum)[0][0]

    labels = dict(popular)
    users = ["u%06d" % i for i in range(B_USERS)]
    in_june = [u for u in users if rng.random() < 0.75]
    in_july = [u for u in users if rng.random() < 0.75]
    rows_total = 0
    for month, days, active in (("06", B_JUNE, in_june), ("07", B_JULY, in_july)):
        per_day = {d: [] for d in days}
        for u in active:
            if rng.random() < 0.125:  # exact tie between two keywords
                k = rng.randint(1, 4)
                picks = [draw(), draw()] * k
            else:
                picks = []
                for _ in range(rng.randint(1, 12)):
                    if rng.random() < 0.3:
                        kw, cat = _keyword(rng)
                        labels.setdefault(kw, cat)
                        picks.append(kw)
                    else:
                        picks.append(draw())
            for kw in picks:
                if rng.random() < 0.03:
                    kw = None
                per_day[rng.choice(days)].append((u if rng.random() > 0.01 else None, kw))
        for d in days:
            recs = per_day[d]
            n = len(recs)
            cols = {
                "eventID": ["%032x" % rng.getrandbits(128) for _ in range(n)],
                "datetime": ["%s-%s-%s %02d:%02d:%02d.%02d" % (
                    d[:4], d[4:6], d[6:], rng.randint(0, 23), rng.randint(0, 59),
                    rng.randint(0, 59), rng.randint(0, 99)) for _ in range(n)],
                "user_id": [r[0] for r in recs],
                "keyword": [r[1] for r in recs],
                "category": rng.choices(["enter", "quit"], k=n),
                "proxy_isp": rng.choices(["viettel", "fpt", "vnpt", None], k=n),
                "platform": rng.choices(["android", "web-playfpt", "smarttv-sony"], k=n),
                "networkType": rng.choices(["wifi", "WIFI", "ethernet", "3g", "###", None], k=n),
                "action": ["search"] * n,
                "userPlansMap": rng.choices([["MAX XMAS:direct"], [], None,
                                             ["Kênh Quốc Tế:promotion", "VIP:direct"]], k=n),
            }
            os.makedirs(os.path.join(out_dir, d), exist_ok=True)
            pq.write_table(pa.table(cols, schema=SEARCH_SCHEMA),
                           os.path.join(out_dir, d, "part-00000.parquet"))
            rows_total += n
    return rows_total, labels


# ------------------------------------------------------------ stream_ingest

STREAM_BATCHES = 20
STREAM_BATCH_DOCS = 60


def stream_batches(rng, documents_parquet, out_dir):
    """Split the document table by seed: a seed corpus, then numbered
    micro-batches of fresh documents (doc_id, text). Returns the number of
    documents per batch."""
    os.makedirs(out_dir, exist_ok=True)
    docs = pq.read_table(documents_parquet, columns=["doc_id", "text"])
    ids = docs.column("doc_id").to_pylist()
    order = list(range(len(ids)))
    rng.shuffle(order)
    n_batch = STREAM_BATCHES * STREAM_BATCH_DOCS
    parts = [("seed.parquet", order[n_batch:])]
    for b in range(STREAM_BATCHES):
        parts.append(("batch_%03d.parquet" % b,
                      order[b * STREAM_BATCH_DOCS:(b + 1) * STREAM_BATCH_DOCS]))
    for name, idx in parts:
        pq.write_table(docs.take(sorted(idx, key=lambda i: ids[i])),
                       os.path.join(out_dir, name))
    return STREAM_BATCH_DOCS
