"""Output checks for the benchmark, run outside the timed region.

Catalog workloads: each report's findings per check kind must equal the
generator's planted-drift manifest exactly, and the report must list
exactly the drifted tables. Data workloads: the warm-up's dumped result
of each key must equal the key's DuckDB oracle (row count and rows, in
any order); the harness already required every timed unit to reproduce
the warm-up's fingerprint.
"""
import glob
import json
import os
import re

# Message templates of graft.diff.Messages, by check kind and language.
KINDS = [
    ("table_missing", r"^Table: .+ exists in the base database, but not in the target database\.$",
     r"^Table: .+가 base 데이터베이스에는 있지만, target 데이터베이스에는 없습니다\.$"),
    ("table_comment", r"^Table: .+ has different comment\. => ", r"^Table: .+의 코멘트가 다릅니다\. => "),
    ("column_missing", r"^Column: .+ exists in the base database, but not in the target database\.$",
     r"^Column: .+가 base 데이터베이스에는 있지만, target 데이터베이스에는 없습니다\.$"),
    ("column_type", r"^Column: .+ has different data type\. => ", r"^Column: .+의 데이터 타입이 다릅니다\. => "),
    ("column_comment", r"^Column: .+ has different comment\. => ", r"^Column: .+의 코멘트가 다릅니다\. => "),
    ("column_nullable", r"^Column: .+ has different nullable\. => ", r"^Column: .+의 NULLABLE이 다릅니다\. => "),
    ("column_default", r"^Column: .+ has different default value\. => ",
     r"^Column: .+의 DEFAULT 값이 다릅니다\. => "),
    ("column_autoinc", r"^Column: .+ has different AUTO_INCREMENT\. => ",
     r"^Column: .+의 AUTO_INCREMENT 여부가 다릅니다\. => "),
    ("index_missing", r"^Index: .+ exists in the base database, but not in the target database\.$",
     r"^Index: .+가 base 데이터베이스에는 있지만, target 데이터베이스에는 없습니다\.$"),
    ("index_columns", r"^Index: .+ has different columns\. Please check the order\. => ",
     r"^Index: .+의 컬럼이 다릅니다\. 순서까지 확인해주세요\. => "),
    ("index_predicate", r"^Index: .+ has different predicate\. => ", r"^Index: .+의 조건이 다릅니다\. => "),
    ("index_unique", r"^Index: .+ has different uniqueness\. => ", r"^Index: .+의 UNIQUE 여부가 다릅니다\. => "),
    ("fk_missing", r"^Foreign Key: .+ exists in the base database, but not in the target database\.$",
     r"^Foreign Key: .+가 base 데이터베이스에는 있지만, target 데이터베이스에는 없습니다\.$"),
    ("fk_target", r"^Foreign Key: .+ references different column\. => ",
     r"^Foreign Key: .+의 참조 컬럼이 다릅니다\. => "),
]
PATTERNS = {lang: [(k, re.compile(p[i])) for k, *p in KINDS]
            for i, lang in enumerate(("English", "Korean"))}
LOG_LINE = re.compile(r"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d (ERROR|WARN) ")
DATA_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings"]


def count_log_lines(path):
    """(ERROR lines, WARN lines) in a Spark log."""
    errors = warns = 0
    with open(path, errors="replace") as f:
        for line in f:
            m = LOG_LINE.match(line)
            if m:
                errors += m.group(1) == "ERROR"
                warns += m.group(1) == "WARN"
    return errors, warns


def report_problems(report, manifest):
    """Differences between one report and the planted-drift manifest."""
    found, tables, problems = {}, set(), []
    pats = PATTERNS[manifest["language"]]
    for entry in report["report_table_list"]:
        tables.add(entry["table_name"])
        for msg in entry["report_list"]:
            kinds = [k for k, p in pats if p.search(msg)]
            if len(kinds) != 1:
                problems.append(f"unclassified message: {msg[:120]}")
                continue
            found[kinds[0]] = found.get(kinds[0], 0) + 1
    if found != manifest["expected"]:
        problems.append(f"findings {found} != planted {manifest['expected']}")
    drifted = set(manifest["drifted_tables"])
    if tables != drifted:
        problems.append(f"report tables differ from drifted tables: "
                        f"{len(tables - drifted)} extra, {len(drifted - tables)} missing")
    return problems


def oracle_problems(work, data, warmup):
    """Keys whose dumped warm-up result differs from the DuckDB oracle."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for t in DATA_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    oracles = json.load(open(os.path.join(work, "oracle_sql.json")))

    def norm(df):
        df = df.apply(lambda c: c.map(_hashable) if c.dtype == object else c)
        df = df.reindex(sorted(df.columns), axis=1)
        if len(df):
            df = df.sort_values(by=list(df.columns), ignore_index=True)
        return df.reset_index(drop=True)

    bad = {}
    for key in warmup:
        try:
            got = norm(pd.read_parquet(glob.glob(os.path.join(work, "dumps", key, "*.parquet"))[0]))
            want = norm(con.sql(oracles[key]).df())
            if list(got.columns) != list(want.columns) or len(got) != len(want):
                bad[key] = f"{key}: shape {got.shape} != oracle {want.shape}"
                continue
            pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
        except Exception as e:  # noqa: BLE001 -- any failure is a wrong output
            bad[key] = f"{key}: {str(e).splitlines()[-1][:200] if str(e) else type(e).__name__}"
    return bad


def _hashable(v):
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(_hashable(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _hashable(x)) for k, x in v.items()))
    return v


def check_samples(workload, work, data, res):
    """Checks every timed sample. Returns failed operation count, the
    indexes of samples with a wrong output, and the problems found."""
    samples = res["samples"]
    failed_ops, bad_samples, problems = 0, set(), []
    if workload.startswith("catalog_"):
        manifest = json.load(open(os.path.join(work, "manifest.json")))
        for i, s in enumerate(samples):
            if s["failed"]:
                problems.append(f"unit {i}: {s['error']}")
                continue
            p = report_problems(json.load(open(s["check"]["report"], encoding="utf-8")), manifest)
            if p:
                failed_ops += 1
                bad_samples.add(i)
                problems += [f"unit {i}: {x}" for x in p]
    else:
        for i, s in enumerate(samples):
            if s["failed"]:
                problems.append(f"unit {i}: {s['error']}")
        bad = oracle_problems(work, data, res["warmup"])
        for key, why in bad.items():
            problems.append(f"oracle mismatch: {why}")
            for i, s in enumerate(samples):
                if key in s["check"]:
                    failed_ops += 1
                    bad_samples.add(i)
    return {"failed_ops": failed_ops, "bad_samples": bad_samples, "problems": problems}
