"""Output checks. Each returns a list of ``(name, ok, detail)``; every
entry counts as one attempted operation and every failed one as a failure
in the benchmark's ``error_rate``."""

import csv

import gen

DASHBOARD_COLUMNS = {"ITEM_NAME", "ITEM_SECTION", "ITEM_STEM",
                     "ITEM_MEMBER", "SCALE_OPTIONS", "ITEM_TYPE",
                     "ITEM_PARENT_ID", "most_recent"}
ADMIN_TYPES = {"metadata", "administrative"}
QUALTRICS_COL = f"QualtricsVariableName.{gen.SURVEY_YEAR}"


def _read_csv(path):
    """Rows of a pipeline CSV as dicts, ``NA`` read as None."""
    with open(path, newline="", encoding="utf-8") as f:
        return [{k: (None if v == "NA" else v) for k, v in r.items()}
                for r in csv.DictReader(f)]


def _same(values):
    return len(set(values)) == 1


def varinfo(result, truth):
    out = []
    units = result["units"] + result["traced_units"]
    for i, u in enumerate(units):
        out.append((f"match stats, unit {i}", u["stats"] == truth["stats"],
                    f"{u['stats']} != {truth['stats']}"))
    out.append(("outputs byte-identical across units, traced included",
                _same(tuple(sorted(u["hashes"].items())) for u in units)
                and len(units[0]["hashes"]) == 5,
                "output digests differ"))
    try:
        out += varinfo_files(units[-1]["dir"], truth)
    except (OSError, KeyError, StopIteration) as e:
        out.append(("output files readable", False, repr(e)))
    return out


def varinfo_files(work, truth):
    """Content checks on one unit's output files."""
    base = f"{work}/experience_"
    joined = _read_csv(base + "cumulative_varinfo_manual-update-needed.csv")
    unmatched = _read_csv(base + "unmatched_variables.csv")
    final = _read_csv(
        f"{base}cumulative-varinfo_updated-{gen.SURVEY_YEAR}.csv")
    dash_path = (f"{base}cumulative-varinfo_updated-{gen.SURVEY_YEAR}"
                 "_2-trimmed-for-dashboard.csv")
    dash = _read_csv(dash_path)
    expect = {r["item"]: r["col"] for r in truth["rows"]}
    got = {r["ITEM_NAME"]: r[QUALTRICS_COL] for r in joined}
    matched_cols = {c for c in expect.values() if c is not None}
    unmatched_expected = set(truth["column_names"]) - matched_cols
    if all(c is not None for c in expect.values()):
        unmatched_expected.add(None)  # the sentinel row survives
    admin = [r["ITEM_TYPE"] in ADMIN_TYPES for r in final]
    first_other = admin.index(False) if False in admin else len(admin)
    with open(dash_path, newline="", encoding="utf-8") as f:
        dash_cols = set(next(csv.reader(f)))
    reviewed = {r["ITEM_NAME"] for r in final
                if gen.REVIEWED_TOKEN in (r["ITEM_SECTION"] or "")}
    return [
        ("matched set equals the planted truth", got == expect,
         f"{sum(1 for k in expect if got.get(k) != expect[k])} rows differ"),
        ("joined rows equal prior rows", len(joined) == truth["prior_rows"],
         f"{len(joined)} != {truth['prior_rows']}"),
        ("unmatched variables are the unmatched columns",
         {r[QUALTRICS_COL] for r in unmatched} == unmatched_expected
         and len(unmatched) == len(unmatched_expected),
         f"{len(unmatched)} rows vs {len(unmatched_expected)} expected"),
        ("metadata rows sort first",
         not any(admin[first_other:]) and first_other ==
         len(truth["metadata_items"]),
         f"{first_other} leading metadata rows"),
        ("cumulative codebook keeps every row",
         len(final) == truth["prior_rows"], f"{len(final)} rows"),
        ("dashboard excludes metadata, administrative and CONSENT",
         all(r.get("ITEM_TYPE") not in ADMIN_TYPES and
             r.get("ITEM_NAME") != "CONSENT" for r in dash)
         and len(dash) == truth["prior_rows"] - len(
             truth["metadata_items"]) - 1,
         f"{len(dash)} dashboard rows"),
        ("dashboard columns within the dashboard set",
         dash_cols <= DASHBOARD_COLUMNS, f"{sorted(dash_cols)}"),
        ("the human edit reaches the cumulative codebook",
         reviewed == set(truth["review_items"]),
         f"{len(reviewed)} of {len(truth['review_items'])} edited rows"),
    ]


def ingested(truth, key, batches):
    """The ids under ``truth[key]`` that the first ``batches`` batches
    carried."""
    first = truth["batch_first_id"] + [float("inf")]
    return {x for x in truth[key] if x < first[batches]}


def ingest(result, truth):
    out = []
    units = result["units"] + result["traced_units"]
    for i, u in enumerate(units):
        nb = u["batches"]
        ids = ingested(truth, "doc_ids", nb) | ingested(truth, "vec_ids", nb)
        exact = (ingested(truth, "exact_dup_docs", nb) |
                 ingested(truth, "exact_dup_vecs", nb))
        status = read_verdicts(u["verdicts"])
        n_rows = sum(1 for line in open(u["verdicts"]) if line.strip())
        out.append((f"accepted and quarantined partition the ids, unit {i}",
                    set(status) == ids and n_rows == len(ids),
                    f"{n_rows} verdict rows for {len(ids)} ids"))
        missed = [x for x in exact if status.get(x) == "accepted"]
        out.append((f"every planted exact duplicate quarantined, unit {i}",
                    not missed, f"{len(missed)} accepted"))
        out.append((f"replaying the last batch is a no-op, unit {i}",
                    u["replay_noop"] is True, "replay changed state"))
    first = ingested(truth, "doc_ids", 1) | ingested(truth, "vec_ids", 1)
    status = read_verdicts(units[0]["verdicts"])
    cold = read_verdicts(result["first_verdicts"])
    out.append(("the cold batch 0 and its warm repeat give the same verdicts",
                cold == {x: status.get(x) for x in first},
                f"{sum(1 for x in first if cold.get(x) != status.get(x))}"
                " verdicts differ"))
    if len(units) > 1:
        out.append(("verdicts identical across units, traced included",
                    _same(u["verdicts_sha256"] for u in units),
                    "verdict digests differ"))
    return out


def read_verdicts(path):
    status = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                i, s = line.rstrip("\n").split("\t")
                status[int(i)] = s
    return status


def recall(status, planted):
    """Share of the planted duplicates ingested that the gate
    quarantined."""
    seen = [x for x in planted if x in status]
    return sum(1 for x in seen if status[x] != "accepted") / max(1, len(seen))

