"""Seeded input generators for the benchmark.

Every generator is a pure function of its seed and scale: the same seed
writes byte-identical files. Each writes its planted truth beside its
inputs as ``truth.json``, which the output checks in ``checks.py`` read.

* ``write_varinfo`` -- a Qualtrics-shaped raw export (header row,
  question-text row, ImportId row, blank respondent rows, multi-line quoted
  texts, ``"<stem> - <member>"`` matrix items) and a prior cumulative
  codebook with planted exact, fuzzy (1..6 edits), name-only-rescue and
  unmatched rows, carrying ``SurveyAdmin*`` columns in both the legacy
  (``SurveyAdminYear2023``) and the dotted (``SurveyAdminYear.2024``)
  naming.
* ``write_ingest`` -- micro-batches of documents and of vectors with
  planted exact duplicates, near duplicates and stitched documents.
"""

import csv
import hashlib
import io
import json
import math
import os
import random

MAX_DIST = 6          # VarinfoConfig.maxStringDistance default
SEPARATION = 2 * MAX_DIST  # long column texts are kept further apart
SURVEY_YEAR = "2025"
JOIN_TEXT_COL = "QuestionText.2023"

WORDS = (
    "academic advising advisor faculty course courses program department "
    "campus student students graduate undergraduate research funding "
    "support services career mentoring quality teaching learning climate "
    "inclusion respect community belonging housing financial stress "
    "health wellness mental counseling library resources online remote "
    "hybrid classroom laboratory facilities safety transportation parking "
    "dining workload balance family childcare employment internship "
    "assistantship stipend tuition fees scholarship diversity equity "
    "access disability accommodation language international domestic "
    "first generation peers colleagues supervisor committee dissertation "
    "thesis publication conference travel grant writing skills "
    "professional development leadership opportunities experience "
    "overall satisfaction expectations preparation orientation feedback "
    "communication information technology software training workshops "
    "events activities organizations recreation athletics arts culture "
    "safety security discrimination harassment reporting policies "
    "procedures administration staff responsiveness availability "
    "instruction curriculum requirements flexibility schedule deadlines "
    "sense purpose motivation confidence anxiety sleep nutrition exercise "
    "commute neighborhood rent affordability savings debt loans income "
    "expenses budget emergency food insecurity access healthcare "
    "insurance benefits childcare eldercare responsibilities "
    "volunteering service civic engagement voting sustainability"
).split()

SCALES = ["agree3", "quality1", "yesno1", "yesno2", "satisfaction3",
          "ratio1", "importance2", "agree7"]
SECTIONS = ["Academic Experience", "Advising", "Campus Climate",
            "Finances", "Health and Wellness", "Housing",
            "Career Development", "Demographics"]
METADATA = [
    ("StartDate", "Start Date"), ("EndDate", "End Date"),
    ("Status", "Response Type"), ("IPAddress", "IP Address"),
    ("Progress", "Progress"), ("Duration (in seconds)",
                               "Duration (in seconds)"),
    ("Finished", "Finished"), ("RecordedDate", "Recorded Date"),
    ("ResponseId", "Response ID"), ("RecipientLastName",
                                    "Recipient Last Name"),
    ("RecipientFirstName", "Recipient First Name"),
    ("RecipientEmail", "Recipient Email"),
    ("ExternalReference", "External Data Reference"),
    ("LocationLatitude", "Location Latitude"),
    ("LocationLongitude", "Location Longitude"),
    ("DistributionChannel", "Distribution Channel"),
    ("UserLanguage", "User Language"),
]
# the codebook carries these first eight as ITEM_TYPE "metadata"
METADATA_CODEBOOK = 8
BROWSER = [("Q401_Browser", "Browser"), ("Q401_Version", "Version"),
           ("Q401_Operating System", "Operating System"),
           ("Q401_Resolution", "Screen Resolution")]
CONSENT_TEXT = (
    "Welcome to the annual graduate student experience survey.\n\n"
    "Your participation is voluntary, and you may skip any question. "
    "Responses are confidential; results are reported only in aggregate "
    "\"de-identified\" form.\n\n"
    "By selecting \"I agree\" below, you consent to take part.")
# ITEM_SECTION marker the seeded "human edit" between the phases rewrites
REVIEW_TOKEN = "TODO-REVIEW"
REVIEWED_TOKEN = "REVIEWED"
RESPONDENT_ROWS = 1871


def levenshtein(a, b, limit=None):
    """Edit distance. With ``limit``, only the diagonal band of width
    ``2*limit+1`` is filled, and any distance above ``limit`` reads
    ``limit+1``."""
    n, m = len(a), len(b)
    k = max(n, m) if limit is None else limit
    big = k + 1
    if abs(n - m) > k:
        return big
    prev = [j if j <= k else big for j in range(m + 1)]
    for i in range(1, n + 1):
        ca = a[i - 1]
        lo, hi = max(1, i - k), min(m, i + k)
        cur = [big] * (m + 1)
        cur[0] = i if i <= k else big
        best = cur[0]
        left = cur[lo - 1]
        for j in range(lo, hi + 1):
            v = prev[j - 1] + (ca != b[j - 1])
            up = prev[j] + 1
            if up < v:
                v = up
            if left + 1 < v:
                v = left + 1
            if v > big:
                v = big
            cur[j] = left = v
            if v < best:
                best = v
        if best >= big:
            return big
        prev = cur
    return min(prev[m], big)


def _sentence(rng, lo, hi, end="?"):
    words = [rng.choice(WORDS) for _ in range(rng.randint(lo, hi))]
    s = " ".join(words)
    return s[0].upper() + s[1:] + end


def _edit(rng, text, n):
    """Apply ``n`` random single-character edits (no quote or newline)."""
    chars = list(text)
    letters = "abcdefghijklmnopqrstuvwxyz"
    for _ in range(n):
        op = rng.choice("sid")
        i = rng.randrange(len(chars))
        if op == "s":
            chars[i] = rng.choice(letters.replace(chars[i].lower(), "") or "a")
        elif op == "i":
            chars.insert(i, rng.choice(letters))
        elif len(chars) > 1:
            del chars[i]
    return "".join(chars)


class _Texts:
    """Draws column texts, keeping every long text more than
    ``SEPARATION`` edits from every other one it was compared with (the
    matrix siblings sharing a stem, the only texts that share long
    substrings by construction; unrelated random sentences are far apart
    with overwhelming probability)."""

    def __init__(self, rng):
        self.rng = rng
        self.used = set()

    def unique(self, draw):
        while True:
            t = draw()
            if t not in self.used:
                self.used.add(t)
                return t

    def members(self, n):
        out = []
        while len(out) < n:
            m = _sentence(self.rng, 3, 5, end="")
            if all(levenshtein(m, o, SEPARATION) > SEPARATION for o in out):
                out.append(m)
        return out


def _columns(rng, scale):
    """Qualtrics columns as (name, text, kind, stem, member, parent)."""
    texts = _Texts(rng)
    cols = [(n, t, "metadata", "", "", "") for n, t in METADATA]
    cols += [(n, t, "browser", "", "", "") for n, t in BROWSER]
    cols.append(("CONSENT", CONSENT_TEXT, "consent", "", "", ""))
    target = 262 * scale
    qn = 1
    prefixes = ["UNV", "PRG", "ADV", "CLIM", "FIN", "HI", "DEM", "CAR"]
    while len(cols) < target:
        left = target - len(cols)
        qualtrics_named = rng.random() < 0.5
        if rng.random() < 0.7 and left >= 3:
            # matrix block: shared stem, "<stem> - <member>" texts
            n = min(left, rng.randint(3, 12))
            stem = texts.unique(lambda: _sentence(rng, 8, 16))
            members = texts.members(n)
            pfx = rng.choice(prefixes)
            for i, m in enumerate(members, 1):
                name = (f"Q{qn}_{i}" if qualtrics_named
                        else f"{pfx}_{qn}_{i}")
                text = f"{stem} - {m}"
                if rng.random() < 0.05:
                    # multi-line quoted question text
                    text = f"{stem}\n(select one) - {m}"
                cols.append((name, text, "matrix", stem, m, str(qn)))
        else:
            text = texts.unique(lambda: _sentence(rng, 10, 22))
            if rng.random() < 0.1:
                text = text.replace(" ", "\n", 1)
            if rng.random() < 0.1:
                text = text[:-1] + ' "in your own words"?'
            name = f"Q{qn}" if qualtrics_named else \
                f"{rng.choice(prefixes)}_ITEM_{qn}"
            cols.append((name, text, "standalone", "", "", str(qn)))
        qn += 1
    return cols


def _csv_text(rows):
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n", quoting=csv.QUOTE_MINIMAL)
    w.writerows(rows)
    return buf.getvalue()


def _qualtrics_csv(cols):
    names = [c[0] for c in cols]
    texts = [c[1] for c in cols]
    import_ids = [json.dumps({"ImportId": f"QID{i}", "timeZone":
                              "America/Denver"}, separators=(",", ":"))
                  for i in range(len(cols))]
    blank = [""] * len(cols)
    return _csv_text([names, texts, import_ids] + [blank] * RESPONDENT_ROWS)


def _codebook(rng, cols):
    """Prior codebook rows plus the planted per-row truth."""
    rows, truth = [], []
    long_items = [c for c in cols if c[2] in ("matrix", "standalone")]
    rng.shuffle(long_items)
    # columns new this administration: no codebook row at all
    n_new = len(long_items) // 20
    long_items = long_items[n_new:]
    # name-only rescue: codebook-named columns whose text was reworded
    n_rescue = len(long_items) // 10
    rescue = [c for c in long_items if not c[0].startswith("Q")][:n_rescue]
    pool = [c for c in long_items if c not in rescue]

    def row(name, itype, ptype, section, parent, stem, member, scale,
            text23, years):
        if text23 != "NA" and "2023" not in years:
            years = years + ["2023"]
        if rng.random() < 0.08:
            section = f"{section} {REVIEW_TOKEN}"
        out = [name, itype, ptype, section, parent, stem, member, scale]
        for y in ("2021", "2022", "2023", "2024"):
            admin = y if y in years else "NA"
            txt = text23 if y == "2023" or y in years else "NA"
            out += [admin, txt]
        rows.append(out)

    def years():
        # cumulative codebook: which past administrations carried the item
        return [y for y in ("2021", "2022", "2023", "2024")
                if rng.random() < 0.6] or ["2024"]

    def fields(c):
        name, text, kind, stem, member, parent = c
        itype = rng.choice(["Interval Scale", "Multi Select", "Ratio Scale",
                            "Single Select", "Open Text"])
        ptype = "matrix" if kind == "matrix" else "standalone"
        return (itype, ptype, rng.choice(SECTIONS), parent or "NA",
                stem or "NA", member or "NA", rng.choice(SCALES))

    # metadata rows: exact text matches that sort first in phase 2
    for n, t in METADATA[:METADATA_CODEBOOK]:
        row(n, "metadata", "NA", "Metadata", "NA", "NA", "NA", "NA", t,
            ["2021", "2022", "2023", "2024"])
        truth.append({"item": n, "col": n, "kind": "exact", "dist": 0})
    for n, t in BROWSER[:2]:
        row(n, "administrative", "NA", "Metadata", "NA", "NA", "NA", "NA",
            t, ["2023", "2024"])
        truth.append({"item": n, "col": n, "kind": "exact", "dist": 0})
    row("CONSENT", "Single Select", "standalone", "Consent", "NA", "NA",
        "NA", "yesno1", CONSENT_TEXT, ["2022", "2023", "2024"])
    truth.append({"item": "CONSENT", "col": "CONSENT", "kind": "exact",
                  "dist": 0})
    for c in rescue:
        text = "NA" if rng.random() < 0.3 else _sentence(rng, 9, 15)
        row(c[0], *fields(c), text, years())
        truth.append({"item": c[0], "col": c[0], "kind": "rescue",
                      "dist": None})

    n_target = 420 * len(cols) // 262
    n_unmatched = n_target // 10
    n_text = n_target - len(rows) - n_unmatched
    for i in range(n_text):
        # a cumulative codebook can hold several rows per column: the
        # first keeps a codebook name, later ones a name no column has
        c = pool[i % len(pool)]
        rep = i // len(pool)
        if rep:
            name = f"{c[0]}_R{rep}"
        else:
            name = c[0] if not c[0].startswith("Q") else f"CB_{c[0]}"
        if rng.random() < 0.25:
            while True:
                text = _edit(rng, c[1], rng.randint(1, MAX_DIST))
                d = levenshtein(text, c[1], MAX_DIST)
                if 1 <= d <= MAX_DIST:
                    break
            kind = "fuzzy"
        else:
            text, d, kind = c[1], 0, "exact"
        row(name, *fields(c), text, years())
        truth.append({"item": name, "col": c[0], "kind": kind, "dist": d})
    for i in range(n_unmatched):
        name = f"RETIRED_{i}"
        text = "NA" if rng.random() < 0.2 else _sentence(rng, 9, 15)
        itype = rng.choice(["Interval Scale", "Multi Select",
                            "Single Select"])
        row(name, itype, "standalone", rng.choice(SECTIONS), "NA", "NA",
            "NA", rng.choice(SCALES), text,
            [y for y in ("2021", "2022") if rng.random() < 0.7] or ["2021"])
        truth.append({"item": name, "col": None, "kind": "unmatched",
                      "dist": None})
    # file order is not grouped by kind
    order = list(range(len(rows)))
    rng.shuffle(order)
    return [rows[i] for i in order], [truth[i] for i in order]


CODEBOOK_HEADER = [
    "ITEM_NAME", "ITEM_TYPE", "ITEM_PRESENTATION_TYPE", "ITEM_SECTION",
    "ITEM_PARENT_ID", "ITEM_STEM", "ITEM_MEMBER", "SCALE_OPTIONS",
    "SurveyAdminYear2021", "QuestionText.2021",
    "SurveyAdminYear2022", "QuestionText.2022",
    "SurveyAdminYear2023", "QuestionText.2023",
    "SurveyAdminYear.2024", "QuestionText.2024",
]


def expected_stats(cols, truth):
    """The MatchStats the library must report for the planted truth."""
    total_vars = len(cols) + 1  # + the empty-text sentinel row
    exact = sum(1 for t in truth if t["kind"] == "exact")
    fuzzy = sum(1 for t in truth if t["kind"] == "fuzzy")
    text_matched = {t["col"] for t in truth if t["kind"] in ("exact",
                                                             "fuzzy")}
    all_matched = {t["col"] for t in truth if t["col"] is not None}
    return {"totalVars": total_vars, "exact": exact, "fuzzy": fuzzy,
            "unmatchedText": total_vars - len(text_matched),
            "totalMatched": len(all_matched),
            "stillUnmatched": total_vars - len(all_matched)}


def candidate_pairs(cols, rows):
    """Pairs (prior row, column_info row) inside the kernel's length band:
    |len(left) - len(right)| <= MAX_DIST, NA texts joined as ""."""
    ti = CODEBOOK_HEADER.index(JOIN_TEXT_COL)
    left = [0 if r[ti] == "NA" else len(r[ti]) for r in rows]
    right = [len(c[1]) for c in cols] + [0]
    hist = {}
    for n in right:
        hist[n] = hist.get(n, 0) + 1
    return sum(hist.get(n + d, 0) for n in left
               for d in range(-MAX_DIST, MAX_DIST + 1))


def write_varinfo(out_dir, seed, scale):
    """Write ``responses.csv``, ``prior.csv`` and ``truth.json``."""
    rng = random.Random(f"varinfo:{seed}:{scale}")
    cols = _columns(rng, scale)
    rows, truth = _codebook(rng, cols)
    os.makedirs(out_dir, exist_ok=True)
    files = {"responses.csv": _qualtrics_csv(cols),
             "prior.csv": _csv_text([CODEBOOK_HEADER] + rows)}
    for name, text in files.items():
        with open(os.path.join(out_dir, name), "w", newline="") as f:
            f.write(text)
    review_rows = [r[0] for r in rows if REVIEW_TOKEN in r[3]]
    doc = {
        "seed": seed, "scale": scale, "columns": len(cols),
        "column_names": [c[0] for c in cols],
        "prior_rows": len(rows), "rows": truth,
        "stats": expected_stats(cols, truth),
        "candidate_pairs": candidate_pairs(cols, rows),
        "review_items": review_rows,
        "metadata_items": [r[0] for r in rows
                           if r[1] in ("metadata", "administrative")],
    }
    _write_json(os.path.join(out_dir, "truth.json"), doc)
    return doc


# ---------------------------------------------------------------- ingest

VEC_DIM = 64


def _doc_text(rng):
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(40, 90)))


def _near(rng, text):
    words = text.split()
    for _ in range(max(1, len(words) // 40)):
        words[rng.randrange(len(words))] = rng.choice(WORDS)
    return " ".join(words)


def _unit(rng):
    v = [rng.gauss(0.0, 1.0) for _ in range(VEC_DIM)]
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v]


def _f32(x):
    # the gate reads array<float>; round to what a float32 keeps so the
    # file and the frame agree digit for digit
    return float(f"{x:.7g}")


def write_ingest(out_dir, seed, batches, docs_per_batch, vecs_per_batch):
    """Write ``docs-<b>.jsonl``, ``vecs-<b>.jsonl`` and ``truth.json``.

    Batch b's ids all exceed batch b-1's, so the first k batches' ids are
    the ids below ``batch_first_id[k]``. Planted, from batch 1 on:
    exact copies and near copies of earlier clean documents and vectors,
    and stitched documents (first half of one earlier document, second
    half of another). Within a batch, a copy always has a larger id than
    its source, so the in-batch pass keeps the source too."""
    rng = random.Random(f"ingest:{seed}")
    os.makedirs(out_dir, exist_ok=True)
    clean_docs, clean_vecs = [], []
    truth = {"batches": batches, "doc_ids": [], "vec_ids": [],
             "exact_dup_docs": [], "near_dup_docs": [], "stitched_docs": [],
             "exact_dup_vecs": [], "near_dup_vecs": [],
             "doc_batch_bytes": [], "vec_batch_bytes": []}
    next_id = 0
    truth["batch_first_id"] = []
    for b in range(batches):
        truth["batch_first_id"].append(next_id)
        docs, vecs = [], []
        for i in range(docs_per_batch):
            did = next_id
            next_id += 1
            kind = rng.random() if b > 0 and len(clean_docs) > 4 else 1.0
            if kind < 0.06:
                src = rng.choice(clean_docs)
                docs.append((did, src[1]))
                truth["exact_dup_docs"].append(did)
            elif kind < 0.10:
                src = rng.choice(clean_docs)
                docs.append((did, _near(rng, src[1])))
                truth["near_dup_docs"].append(did)
            elif kind < 0.13:
                a, c = rng.sample(clean_docs, 2)
                wa, wc = a[1].split(), c[1].split()
                docs.append((did, " ".join(wa[:len(wa) // 2] +
                                           wc[len(wc) // 2:])))
                truth["stitched_docs"].append(did)
            else:
                docs.append((did, _doc_text(rng)))
            truth["doc_ids"].append(did)
        for i in range(vecs_per_batch):
            vid = next_id
            next_id += 1
            kind = rng.random() if b > 0 and len(clean_vecs) > 4 else 1.0
            if kind < 0.06:
                vecs.append((vid, rng.choice(clean_vecs)[1]))
                truth["exact_dup_vecs"].append(vid)
            elif kind < 0.10:
                src = rng.choice(clean_vecs)[1]
                noisy = [x + rng.gauss(0.0, 0.01) for x in src]
                vecs.append((vid, [_f32(x) for x in noisy]))
                truth["near_dup_vecs"].append(vid)
            else:
                vecs.append((vid, [_f32(x) for x in _unit(rng)]))
            truth["vec_ids"].append(vid)
        planted = set(truth["exact_dup_docs"] + truth["near_dup_docs"] +
                      truth["stitched_docs"])
        clean_docs += [d for d in docs if d[0] not in planted]
        planted_v = set(truth["exact_dup_vecs"] + truth["near_dup_vecs"])
        clean_vecs += [v for v in vecs if v[0] not in planted_v]
        with open(os.path.join(out_dir, f"docs-{b}.jsonl"), "w") as f:
            for did, text in docs:
                f.write(json.dumps({"doc_id": did, "text": text}) + "\n")
        with open(os.path.join(out_dir, f"vecs-{b}.jsonl"), "w") as f:
            for vid, vec in vecs:
                f.write(json.dumps({"vec_id": vid, "embedding": vec},
                                   separators=(",", ":")) + "\n")
        for kind in ("doc", "vec"):
            truth[f"{kind}_batch_bytes"].append(os.path.getsize(
                os.path.join(out_dir, f"{kind}s-{b}.jsonl")))
    _write_json(os.path.join(out_dir, "truth.json"), truth)
    return truth


def _write_json(path, doc):
    with open(path, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")


def digest(path):
    """SHA-256 of every file under ``path``, by relative name."""
    out = {}
    for root, _, files in os.walk(path):
        for name in sorted(files):
            p = os.path.join(root, name)
            with open(p, "rb") as f:
                out[os.path.relpath(p, path)] = hashlib.sha256(
                    f.read()).hexdigest()
    return out
