"""Seeded input generators for the three workloads.

Every generator takes the workload seed and returns plain Python data:
the bytes the program is given (a fleet CSV, a document TSV, an
operation plan) plus the ground truth the output checks compare with.
The same seed always gives the same bytes.
"""

import random
import time

import numpy as np

# --- fleet telemetry (reference schema, 17 columns) -----------------------

FLEET_HEADER = ("MachineID,Type,Location,Timestamp,EngineTemperature,"
                "FuelConsumption,VibrationLevel,Humidity,Pressure,PowerOutput,"
                "OperatingHours,Status,Status_encoded,Timestamp_epoch,hour,"
                "dayofweek,month")
TYPES = ["Excavator", "Crane", "Loader", "Bulldozer", "Drill"]
LOCATIONS = ["Site A", "Site B", "Site C", "Depot", "Quarry"]
STATUSES = ["Active", "Fault", "Idle", "Maintenance"]
SENSORS = [  # (column, low, high, value the ingest imputes for a null)
    ("enginetemperature", 60.0, 110.0, 75.0),
    ("fuelconsumption", 2.0, 25.0, 10.0),
    ("vibrationlevel", 0.5, 9.0, 3.0),
    ("humidity", -5.0, 105.0, 65.0),
    ("pressure", 900.0, 1000.0, 950.0),
    ("poweroutput", 50.0, 400.0, 200.0),
]
BASE_EPOCH = 1704067200  # 2024-01-01 00:00 UTC
STEP_MIN = 15


def fleet(seed, machines, rows_per_machine, null_share=0.03):
    """The fleet CSV text and, per machine, its rows after imputation as
    (epoch, operatinghours, temp, fuel, vib, hum, pressure, power, status),
    in time order. A `null_share` of every sensor and status field is left
    empty, and of the epoch field too, so the ingest's fill and parse paths
    both run."""
    rng = random.Random(f"fleet:{seed}")
    ids = [f"M{m:04d}" for m in range(machines)]
    kind = {i: (rng.choice(TYPES), rng.choice(LOCATIONS)) for i in ids}
    offset = {i: rng.randrange(STEP_MIN) for i in ids}
    truth = {i: [] for i in ids}
    lines = [FLEET_HEADER]
    for t in range(rows_per_machine):
        for i in ids:
            epoch = BASE_EPOCH + 60 * (t * STEP_MIN + offset[i])
            g = time.gmtime(epoch)
            stamp = f"{g.tm_mon}/{g.tm_mday}/{g.tm_year} {g.tm_hour}:{g.tm_min:02d}"
            vals, cells = [], []
            for _, lo, hi, fill in SENSORS:
                if rng.random() < null_share:
                    vals.append(fill)
                    cells.append("")
                else:
                    s = f"{rng.uniform(lo, hi):.2f}"
                    vals.append(float(s))
                    cells.append(s)
            if rng.random() < null_share:
                hours, hours_cell = 0.0, ""
            else:
                hours_cell = f"{t * 0.25 + rng.random() * 0.2:.2f}"
                hours = float(hours_cell)
            if rng.random() < null_share:
                status, status_cell, code_cell = "Unknown", "", ""
            else:
                status = rng.choice(STATUSES)
                status_cell, code_cell = status, str(STATUSES.index(status))
            epoch_cell = "" if rng.random() < null_share else str(epoch)
            typ, loc = kind[i]
            lines.append(",".join([i, typ, loc, stamp, *cells[:6],
                                   hours_cell, status_cell, code_cell,
                                   epoch_cell, str(g.tm_hour),
                                   str(g.tm_wday), str(g.tm_mon)]))
            truth[i].append((epoch, hours, *vals, status))
    return "\n".join(lines) + "\n", truth


# The eight latest-per-machine top-k accessors: (name, column, ascending,
# humidity sanity bounds).
TOPK = [
    ("highestTemperature", 2, False, None),
    ("highestHumidity", 5, False, None),
    ("highestVibration", 4, False, None),
    ("highestFuel", 3, False, None),
    ("lowestTemperature", 2, True, None),
    ("lowestHumidity", 5, True, (0.0, 100.0)),
    ("lowestVibration", 4, True, None),
    ("lowestFuel", 3, True, None),
]
WIDE = [name for name, *_ in TOPK] + ["byStatus", "byStatusAll"]
POINT = ["latest", "range", "stats"]
ROLES = ["operator", "engineer", "manager"]


def _log_line(rng, ids):
    m = rng.choice(ids)
    return (f"log\t{rng.choice(ROLES)}\tstatus of {m}\tlatest\t"
            f"{rng.randint(50, 99) / 100}\t{m}\t"
            f"{BASE_EPOCH + 60 * STEP_MIN * rng.randrange(4000)}")


def fleet_questions(seed, ids, questions, wide_every=3, maintain_every=16,
                    tag="q"):
    """Operator questions as plan lines (tab-separated). Each question is
    two per-machine reads and one query-log append; every `wide_every`-th
    question adds a fleet-wide read and every `maintain_every`-th runs log
    maintenance. Class counts are fixed; the seed picks the parameters."""
    rng = random.Random(f"{tag}:{seed}")
    n_wide = questions // wide_every
    wide = [WIDE[k % len(WIDE)] for k in range(n_wide)]
    point = [POINT[k % len(POINT)] for k in range(2 * questions)]
    rng.shuffle(wide)
    rng.shuffle(point)
    span = 60 * STEP_MIN
    plan = []
    for q in range(questions):
        for kind in point[2 * q:2 * q + 2]:
            m = rng.choice(ids)
            if kind == "latest":
                plan.append(f"latest\t{m}\t{rng.randint(3, 12)}")
            elif kind == "range":
                lo = BASE_EPOCH + span * rng.randrange(400)
                plan.append(f"range\t{m}\t{lo}\t{lo + span * rng.randint(4, 40)}")
            else:
                plan.append(f"stats\t{m}")
        if (q + 1) % wide_every == 0:
            w = wide[(q + 1) // wide_every - 1]
            if w == "byStatus":
                plan.append(f"byStatus\t{rng.choice(STATUSES).lower()[:4]}")
            elif w == "byStatusAll":
                plan.append(w)
            else:
                plan.append(f"{w}\t{rng.randint(5, 20)}")
        plan.append(_log_line(rng, ids))
        if (q + 1) % maintain_every == 0:
            plan.append("maintain")
    return plan


def fleet_warmup(seed, ids, questions=12, commits=34):
    """The untimed warm-up: `questions` full questions (every class), then
    bare log appends up to `commits` log commits — past the manifest's
    32-commit checkpoint — and one more maintenance."""
    plan = fleet_questions(seed, ids, questions, maintain_every=questions,
                           tag="warm")
    rng = random.Random(f"warmlog:{seed}")
    plan += [_log_line(rng, ids) for _ in range(commits - questions)]
    return plan + ["maintain"]


def fleet_answer(truth, line):
    """The expected answer to one plan line, in the executor's format."""
    f = line.split("\t")
    op = f[0]
    if op == "latest":
        rows = truth[f[1]]
        return " ".join(str(r[0]) for r in sorted(rows, reverse=True)[:int(f[2])])
    if op == "range":
        lo, hi = int(f[2]), int(f[3])
        es = [r[0] for r in truth[f[1]] if lo <= r[0] <= hi]
        return f"{len(es)} {es[0] if es else '-'} {es[-1] if es else '-'}"
    if op == "stats":
        rows = truth[f[1]]
        n = len(rows)
        return (f"{n} {rows[0][0]} {rows[-1][0]} "
                f"{sum(r[2] for r in rows) / n:.6f} "
                f"{sum(r[3] for r in rows) / n:.6f} "
                f"{sum(r[4] for r in rows) / n:.6f}")
    if op in ("byStatus", "byStatusAll"):
        want = f[1] if op == "byStatus" else ""
        out = []
        for m in sorted(truth):
            hit = [r for r in truth[m] if want in r[8].lower()]
            if hit:
                out.append(f"{m}:{max(hit)[0]}")
        return " ".join(out)
    for name, c, asc, bounds in TOPK:
        if op == name:
            latest = []
            for m, rows in truth.items():
                ok = [r for r in rows
                      if bounds is None or bounds[0] < r[c] <= bounds[1]]
                if ok:
                    latest.append((max(ok, key=lambda r: (r[0], r[1]))[c], m))
            latest.sort(key=lambda p: (p[0] if asc else -p[0], p[1]))
            return " ".join(m for _, m in latest[:int(f[1])])
    return ""  # log / maintain: checked at the end of the run


# --- documents -------------------------------------------------------------

def vocabulary(rng, size=6000):
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = set()
    while len(words) < size:
        words.add("".join(rng.choice(letters) for _ in range(rng.randint(3, 9))))
    return sorted(words)


def _text(rng, vocab, lo, hi):
    return " ".join(rng.choice(vocab) for _ in range(rng.randint(lo, hi)))


# The near-duplicate detector's signature (MinHashSigExpr: k=64 linear
# permutations over token-3-gram poly hashes) and LSH rule (16 bands,
# estimated Jaccard >= 0.8), replicated so the planted truth is exact:
# every near copy is one the detector finds, and no two families share a
# shingle hash small enough to dominate their signatures.
P = 1000000007
K, BANDS, MIN_EST_PPM = 64, 16, 800000
SMALL_HASH = 2000000
_PERM_A = np.array([2 * p + 3 for p in range(K)], dtype=np.int64)
_PERM_B = np.array([7 * p + 1 for p in range(K)], dtype=np.int64)


class Words:
    """A vocabulary with each word's poly hash and 31^len, so a shingle's
    hash folds from its three words' entries."""

    def __init__(self, rng, size):
        self.words = vocabulary(rng, size)
        self.hash = np.zeros(len(self.words), dtype=np.int64)
        self.pow = np.zeros(len(self.words), dtype=np.int64)
        for i, w in enumerate(self.words):
            h = 0
            for ch in w:
                h = (h * 31 + ord(ch)) % P
            self.hash[i], self.pow[i] = h, pow(31, len(w), P)

    def shingles(self, idx):
        """Hashes of the token 3-grams of a document given as word indexes."""
        a, b, c = idx[:-2], idx[1:-1], idx[2:]
        h = (self.hash[a] * 31 + 32) % P
        h = (h * self.pow[b] + self.hash[b]) % P
        h = (h * 31 + 32) % P
        return (h * self.pow[c] + self.hash[c]) % P

    def text(self, idx):
        return " ".join(self.words[i] for i in idx)


def shingles_of(text):
    """Hashes of a text's token 3-grams, folded as the detector folds them."""
    toks = text.split(" ")
    out = []
    for j in range(len(toks) - 2):
        h = 0
        for t, w in enumerate(toks[j:j + 3]):
            for ch in w:
                h = (h * 31 + ord(ch)) % P
            if t < 2:
                h = (h * 31 + 32) % P
        out.append(h)
    return np.array(out, dtype=np.int64)


def signature(shingles):
    return ((shingles[:, None] * _PERM_A + _PERM_B) % P).min(axis=0)


def detected(sig_a, sig_b):
    """The LSH rule: some band of 4 collides and the estimate clears 0.8."""
    eq = sig_a == sig_b
    band = eq.reshape(BANDS, K // BANDS).all(axis=1).any()
    return bool(band) and int(eq.sum()) * 1000000 // K >= MIN_EST_PPM


def corpus(seed, families, exact_groups, near_clusters, low_quality):
    """A curation corpus as TSV lines `doc_id, source, text` plus its
    planted truth. `families` distinct base documents; `exact_groups` of
    them get 1–2 exact copies (some upper-cased: dedup is case-blind);
    `near_clusters` others get 1–4 near copies (the base with its last
    word replaced, each one the detector finds); `low_quality` documents
    fail the quality gate. Doc ids are shuffled."""
    rng = random.Random(f"corpus:{seed}")
    vocab = Words(rng, 6000)
    n_words = len(vocab.words)
    small = set()  # dominant shingle hashes already used by a family

    def base():
        while True:
            idx = np.array([rng.randrange(n_words)
                            for _ in range(rng.randint(60, 90))])
            sh = vocab.shingles(idx)
            dom = set(sh[sh < SMALL_HASH].tolist())
            if not dom & small:
                return idx, sh, dom

    def near_copies(idx, sh, n, tries=40):
        stem = signature(sh[:-1])
        sig = np.minimum(stem, signature(sh[-1:]))
        tails = []
        for _ in range(tries):
            t = rng.randrange(n_words)
            if t == idx[-1] or t in tails:
                continue
            new = vocab.shingles(np.array([idx[-3], idx[-2], t]))
            if new[0] < SMALL_HASH and new[0] in small:
                continue
            if detected(sig, np.minimum(stem, signature(new))):
                tails.append(t)
                if len(tails) == n:
                    return tails
        return None

    docs = []
    exact_extra = near_extra = 0
    for f in range(families):
        idx, sh, dom = base()
        if f < exact_groups:
            text = vocab.text(idx)
            copies = [text.upper() if c else text for c in range(rng.randint(1, 2))]
            exact_extra += len(copies)
        elif f < exact_groups + near_clusters:
            tails = near_copies(idx, sh, rng.randint(1, 4))
            while tails is None:  # the last shingle dominates the signature
                idx, sh, dom = base()
                tails = near_copies(idx, sh, rng.randint(1, 4))
            copies = [vocab.text(list(idx[:-1]) + [t]) for t in tails]
            dom |= {int(vocab.shingles(np.array([idx[-3], idx[-2], t]))[0])
                    for t in tails}
            near_extra += len(copies)
        else:
            copies = []
        small.update(dom)
        docs += [vocab.text(idx)] + copies
    for k in range(low_quality):
        docs.append(" ".join(["spam"] * 40) if k % 2 else
                    " ".join(rng.choice(vocab.words) for _ in range(rng.randint(2, 3))))
    ids = list(range(1, len(docs) + 1))
    rng.shuffle(ids)
    lines = [f"{i}\tsrc{i % 8}\t{t}" for i, t in sorted(zip(ids, docs))]
    raw = len(docs)
    truth = {
        "raw": raw,
        "after_quality": raw - low_quality,
        "after_exact_dedup": raw - low_quality - exact_extra,
        "after_near_dup": families,
        "written": families,
    }
    return lines, truth


# --- lakehouse cycles -------------------------------------------------------

SOURCES = [f"src{k}" for k in range(8)]


def lake(seed, cycles, window=6, appends=4, batch=200, maintain_every=4,
         probes=4):
    """A document table's cycle plan plus the docs it appends.

    The table starts with `window` cycles of rows (cycles -window..-1).
    Each cycle appends `appends` keyed batches of `batch` docs, replays the
    last batch (a no-op), deletes the cycle that fell out of the window,
    then alternately updates or merges, folds the view, syncs the search
    index and runs `probes` range probes, a point probe, a count and a
    BM25 query. Every `maintain_every`-th cycle, the first included, ends
    with table maintenance. Returns (doc lines `doc_id, cycle, source, text`, plan
    lines, cycle-start indexes into the plan)."""
    rng = random.Random(f"lake:{seed}")
    vocab = vocabulary(rng, 3000)
    next_id = [0]

    def docs_of(cycle, n):
        out = []
        for _ in range(n):
            out.append(f"{next_id[0]}\t{cycle}\t{rng.choice(SOURCES)}\t"
                       f"{_text(rng, vocab, 8, 24)}")
            next_id[0] += 1
        return out

    doc_lines = []
    for c in range(-window, 0):
        doc_lines += docs_of(c, appends * batch)
    plan, starts = [f"snapshot\t0\t{len(doc_lines)}"], []
    batch_id = 0
    for c in range(cycles):
        starts.append(len(plan))
        for _ in range(appends):
            lo = len(doc_lines)
            doc_lines += docs_of(c, batch)
            plan.append(f"append\t{batch_id}\t{lo}\t{len(doc_lines)}")
            batch_id += 1
        plan.append(f"replay\t{batch_id - 1}\t{lo}\t{len(doc_lines)}")
        plan.append(f"delete\tcycle = {c - window}")
        if c % 2 == 0:
            plan.append(f"update\tcycle = {c - 1} AND doc_id % 5 = 0\t"
                        "n_chars\tn_chars + 1")
        else:
            # half the source rows match live docs of cycle c-2, half are new
            old = [l for l in doc_lines if l.split("\t")[1] == str(c - 2)]
            hits = [l.split("\t")[0] for l in rng.sample(old, batch // 2)]
            lo = len(doc_lines)
            doc_lines += docs_of(c, batch // 2)
            plan.append(f"merge\t{','.join(hits)}\t{lo}\t{len(doc_lines)}")
        plan.append("fold")
        plan.append("sync")
        hi_id = next_id[0]
        for _ in range(probes):
            lo = rng.randrange(hi_id)
            plan.append(f"range\t{lo}\t{lo + rng.randint(50, 2000)}")
        plan.append(f"point\t{rng.choice(SOURCES)}")
        plan.append("count")
        plan.append("bm25\t" + " ".join(rng.sample(vocab, 3)))
        if c % maintain_every == 0:
            plan.append("maintain")
    return doc_lines, plan, starts


def lake_model(doc_lines, plan):
    """Replay a lakehouse plan on a dict: doc_id → [cycle, source, n_chars].
    Returns (live table, per-plan-line expected answers)."""
    docs = [l.split("\t") for l in doc_lines]
    table, answers = {}, []

    def land(lo, hi):
        for f in docs[lo:hi]:
            table[int(f[0])] = [int(f[1]), f[2], len(f[3])]

    for line in plan:
        f = line.split("\t")
        op, ans = f[0], ""
        if op in ("snapshot", "append", "replay"):
            land(int(f[-2]), int(f[-1]))
        elif op == "delete":
            c = int(f[1].split("=")[1])
            for k in [k for k, v in table.items() if v[0] == c]:
                del table[k]
        elif op == "update":
            c = int(f[1].split("=")[1].split()[0])
            for k, v in table.items():
                if v[0] == c and k % 5 == 0:
                    v[2] += 1
        elif op == "merge":
            src = {int(g[0]): g for g in docs[int(f[2]):int(f[3])]}
            for h in f[1].split(","):
                if int(h) in table:
                    table[int(h)][2] = 7 + int(h) % 50
            for k, g in src.items():
                table[k] = [int(g[1]), g[2], len(g[3])]
        elif op == "range":
            lo, hi = int(f[1]), int(f[2])
            ans = str(sum(1 for k in table if lo <= k <= hi))
        elif op == "point":
            ans = str(sum(1 for v in table.values() if v[1] == f[1]))
        elif op == "count":
            ans = str(len(table))
        answers.append(ans)
    return table, answers


def lake_view(table):
    """The maintained (source → n, sum n_chars) view a recompute gives."""
    view = {}
    for _, s, n in table.values():
        c, t = view.get(s, (0, 0))
        view[s] = (c + 1, t + n)
    return view
