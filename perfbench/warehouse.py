"""``warehouse``: weekly ingest into a landed warehouse, with lookups.

Set-up lands a seeded warehouse through ``Engine.upsert`` (the
hash-bucketed merge layout) plus a BM25 text index
over generated documents. Every lookup type is then
warmed and its answer checked against DuckDB over the generated rows
(never the engine's own files).

The timed loop runs weeks; each engine call below is one operation:

1. the week's lookups, each timed from the method call to the
   collected rows (``search_companies``, ``query_text_index``; seeded
   arguments);
2. ``Engine.run_weekly`` on the week's discovered applications (entity
   resolution against the company dimension in its default exhaustive
   regime), matches collected;
3. ``Engine.upsert`` of the week's planning applications and
   companies (partition-scoped ``merge_upsert``), one call each;
4. a document drop landed through ``run_text_index_ingest_stream``;
5. a read-after-write of the upserted companies.

After the loop the warehouse is checked against an in-memory model of
the weeks: one row per merge key, latest value wins, every landed
document indexed.
"""

from __future__ import annotations

import os
import random
import time

import duckdb
import numpy as np

from . import check, gen, trace

N_COMPANIES, SMOKE_COMPANIES = 1000, 200
STAR = (0.001, 300, 10)  # documents behind the text index
N_APPS, N_COMPANY_UPSERTS, N_DOCS = 100, 50, 30

UPSERTED = ("planning_applications", "companies")
CHECK_COLS = {"planning_applications": (["borough", "reference"], ["status"]),
              "companies": (["company_number"], ["company_name"])}
LOOKUPS = ("search_companies", "query_text_index")


def _load(spark, path: str, cols: dict | None = None):
    """(Generated rows ->) parquet -> DataFrame with the warehouse
    schema's column types."""
    from database_convertor_spark.schemas import WAREHOUSE_SCHEMAS

    if cols is not None:
        gen.write_parquet(path, cols)
    df = spark.read.parquet(path)
    schema = WAREHOUSE_SCHEMAS.get(os.path.basename(path).split(".")[0])
    if schema is None:
        return df
    types = {f.name: f.dataType for f in schema.fields}
    return df.select([df[c].cast(types[c]).alias(c) for c in df.columns])


def _snapshot(path: str) -> dict[str, int]:
    """Live data files under a table or index dir -> size."""
    out = {}
    for dirpath, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs
                   if not d.startswith((".", "_temporary", "_manifest"))]
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                out[p] = os.path.getsize(p)
    return out


def _table_sql(path: str) -> str:
    files = ", ".join(f"'{p}'" for p in sorted(_snapshot(path)))
    return f"read_parquet([{files}], hive_partitioning = true, union_by_name = true)"


def _py(v):
    return v.item() if isinstance(v, np.generic) else v


class Model:
    """Expected warehouse state: merge key -> latest compared values."""

    def __init__(self):
        self.rows: dict[str, dict[tuple, tuple]] = {t: {} for t in UPSERTED}

    def apply(self, table: str, cols: dict) -> None:
        keys, vals = CHECK_COLS[table]
        for i in range(len(cols[keys[0]])):
            self.rows[table][tuple(_py(cols[c][i]) for c in keys)] = tuple(
                _py(cols[c][i]) for c in vals)


def generate(seed: int, root: str, n_companies: int) -> dict:
    """The warehouse's initial rows and documents, written under
    ``root``, plus the generator of the weekly batches."""
    rows = gen.warehouse_rows(seed, n_companies)
    base = next(gen.weekly_batches(seed + 7, 2 * N_APPS, n_companies, 0))
    rows["planning_applications"] = base["planning_applications"]
    os.makedirs(os.path.join(root, "src"), exist_ok=True)
    for t in UPSERTED:
        gen.write_parquet(os.path.join(root, "src", f"{t}.parquet"), rows[t])
    gen.write_star(os.path.join(root, "star"), seed, *STAR)
    weeks = gen.weekly_batches(seed, N_APPS, n_companies, N_COMPANY_UPSERTS,
                               dim_names=rows["companies"]["company_name"])
    return {"rows": rows, "weeks": weeks}


def land(spark, root: str):
    """Land the warehouse and the text index through the engine."""
    from database_convertor_spark.api import Engine
    from database_convertor_spark.sources.readers import read_table

    eng = Engine(spark, os.path.join(root, "wh"))
    for t in UPSERTED:
        eng.upsert(t, _load(spark, os.path.join(root, "src", f"{t}.parquet")))
    star = os.path.join(root, "star")
    eng.build_text_index(read_table(spark, star, "documents"),
                         os.path.join(root, "wh", "_text_index"))
    return eng


# ------------------------------------------------------------- lookups
def _lookup_args(rng: random.Random, rows: dict, op: str) -> dict:
    if op == "search_companies":
        # a token of a random company name, so popular tokens recur
        names = rows["companies"]["company_name"]
        toks = names[rng.randrange(len(names))].lower().split()
        return {"query": toks[rng.randrange(len(toks) - 1)],
                "status": rng.choice([None, "active"])}
    return {"query": " ".join(rng.sample(gen.DOC_WORDS, 3)), "top_k": 10}


def _call(eng, op: str, kw: dict):
    """Issue one lookup; returns the DataFrame (not yet collected)."""
    d = eng.warehouse_dir
    if op == "search_companies":
        return eng.search_companies(kw["query"], status=kw["status"])
    return eng.query_text_index(os.path.join(d, "_text_index"),
                                kw["query"], top_k=kw["top_k"])


def _oracle(kw: dict) -> tuple[str, list[str]]:
    """DuckDB SQL over the generated rows for ``search_companies``,
    plus the columns compared (in order: the lookup returns an ordered
    page)."""
    q = kw["query"].replace("'", "''")
    status = (f" AND company_status = '{kw['status']}'"
              if kw["status"] else "")
    return (f"""SELECT id, company_number FROM companies
            WHERE (contains(lower(company_name), '{q}')
                   OR contains(lower(company_number), '{q}')
                   OR contains(lower(coalesce(locality, '')), '{q}')){status}
            ORDER BY updated_at DESC, company_number LIMIT 100""",
            ["id", "company_number"])


def verify_lookups(ctx, eng, root: str, rows: dict) -> None:
    """Warm every lookup type and check its answer; the index search
    uses the catalog's BM25 oracle."""
    from database_convertor_spark.plans import catalog

    con = check.star_connection(os.path.join(root, "star"))
    for t in UPSERTED:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(root, 'src', t)}.parquet'")
    rng = random.Random(ctx.seed + 1)
    d = eng.warehouse_dir
    kw = _lookup_args(rng, rows, "search_companies")
    cases = [("search_companies",
              lambda: _call(eng, "search_companies", kw), *_oracle(kw))]
    cases.append(("query_text_index", lambda: eng.query_text_index(
        os.path.join(d, "_text_index"), "dup join scan", top_k=10),
        catalog._bm25_oracle("dup join scan", k1=1.2, b=0.75, top_k=10), None))
    for op, fn, sql, cols in cases:
        ctx.attempted += 1
        t0 = time.perf_counter()
        with ctx.rec.op(op, "verify", timed=False):
            df = fn()
            got = df.collect()
        ctx.warmup_s += time.perf_counter() - t0
        if cols is None:
            diff = check.against_sql(got, df.columns, con, sql)
        else:
            got = [tuple(r[c] for c in cols) for r in got]
            want = con.execute(sql).fetchall()
            diff = None if got == want else (
                f"{len(got)} rows vs {len(want)}, first {got[:2]} vs {want[:2]}")
        if diff:
            ctx.fail(f"{op}: {diff}")
    con.close()


# ------------------------------------------------------------- the run
def run(ctx) -> None:
    from database_convertor_spark.streaming.pipeline import (
        run_text_index_ingest_stream,
    )

    spark = ctx.spark
    n_comp = SMOKE_COMPANIES if ctx.smoke else N_COMPANIES
    root = ctx.work
    t0 = time.perf_counter()
    inputs = generate(ctx.seed, root, n_comp)
    ctx.datagen_s = time.perf_counter() - t0
    rows, weeks = inputs["rows"], inputs["weeks"]
    ctx.log(f"warehouse rows { {t: len(rows[t]['id']) for t in UPSERTED} }; "
            f"per week apps={N_APPS} company upserts={N_COMPANY_UPSERTS} "
            f"docs={N_DOCS}; star={STAR}")
    # landing the bucketed warehouse is the costly part of set-up
    t0 = time.perf_counter()
    eng = land(spark, root)
    ctx.land_s = time.perf_counter() - t0

    verify_lookups(ctx, eng, root, rows)
    ctx.layer["files_per_table"] = sum(
        len(_snapshot(eng._path(t))) for t in UPSERTED) / len(UPSERTED)
    model = Model()
    for t in UPSERTED:
        model.apply(t, rows[t])
    ctx.setup_done()

    index = os.path.join(eng.warehouse_dir, "_text_index")
    landing = os.path.join(root, "landing")
    os.makedirs(landing, exist_ok=True)
    ckpt = os.path.join(root, "ckpt")
    next_doc = STAR[1]
    rng = random.Random(ctx.seed)
    tally = {"input": 0, "written": 0, "files": 0, "parts": 0,
             "pairs": 0.0, "weekly_s": 0.0}
    merge_s: dict[str, list[float]] = {t: [] for t in UPSERTED}
    per_op: dict[str, list[float]] = {op: [] for op in LOOKUPS}
    stream_s, fresh_ms, plan, collect = [], [], [], []
    deadline = time.perf_counter() + ctx.seconds

    def timed(op: str, phase: str, fn):
        ctx.attempted += 1
        with ctx.rec.op(op, phase) as s:
            out = fn()
        ctx.latencies.append(s.seconds)
        return out, s.seconds

    w = 0
    while w == 0 or time.perf_counter() < deadline:
        week = next(weeks)
        wdir = os.path.join(root, f"week{w}")
        os.makedirs(wdir, exist_ok=True)
        frames = {t: _load(spark, os.path.join(wdir, f"{t}.parquet"), week[t])
                  for t in UPSERTED}
        tally["input"] += sum(os.path.getsize(os.path.join(wdir, f"{t}.parquet"))
                              for t in UPSERTED)
        disc = _load(spark, os.path.join(wdir, "discovered.parquet"),
                     week["discovered"])
        drop = os.path.join(landing, f"drop{w}.parquet")
        ctx.collect_garbage()
        start, first_op = time.perf_counter(), len(ctx.latencies)
        ticks = trace.cpu_ticks()
        try:
            for op in LOOKUPS:
                kw = _lookup_args(rng, rows, op)
                split = []

                def lookup(op=op, kw=kw):
                    df = _call(eng, op, kw)
                    split.append(time.perf_counter())
                    return df.collect()
                t0 = time.perf_counter()
                _, secs = timed(op, "lookup", lookup)
                per_op[op].append(secs * 1000.0)
                plan.append((split[0] - t0) * 1000.0)
                collect.append((secs - (split[0] - t0)) * 1000.0)

            def weekly():
                res = eng.run_weekly(disc)
                return res, res.matches.collect()
            (res, matches), secs = timed("run_weekly", "write", weekly)
            tally["weekly_s"] += secs
            tally["pairs"] += ((res.stats["applicants_deduped"]
                                - res.stats["individuals_skipped"])
                               * len(model.rows["companies"]))
            # the pipeline resolved against the dimension as it was
            # before this week's upserts
            _check_matches(ctx, w, week, matches, model)
            for t in UPSERTED:
                before = _snapshot(eng._path(t))
                _, secs = timed(f"merge_upsert.{t}", "write",
                                lambda t=t: eng.upsert(t, frames[t]))
                merge_s[t].append(secs)
                new = {p: n for p, n in _snapshot(eng._path(t)).items()
                       if p not in before}
                tally["written"] += sum(new.values())
                tally["files"] += len(new)
                tally["parts"] += len({os.path.dirname(p) for p in new})
                model.apply(t, week[t])

            gen.write_parquet(drop, gen.doc_drop(ctx.seed * 1000 + w, N_DOCS,
                                                 next_doc))
            tally["input"] += os.path.getsize(drop)
            next_doc += N_DOCS
            before = _snapshot(index)
            _, secs = timed("text_index_ingest", "write", lambda: (
                run_text_index_ingest_stream(spark, landing, index, ckpt)))
            stream_s.append(secs)
            tally["written"] += sum(n for p, n in _snapshot(index).items()
                                    if p not in before)

            ids = [int(i) for i in week["companies"]["id"]]

            def fresh():
                c = eng.table("companies")
                return c.filter(c.id.isin(ids)).select("company_name").collect()
            seen, secs = timed("fresh_read", "read", fresh)
            fresh_ms.append(secs * 1000.0)
            if len(seen) != len(ids):
                ctx.fail(f"week {w}: read-after-write saw {len(seen)} of {len(ids)}")
        except Exception as exc:  # noqa: BLE001 - every failure is counted
            ctx.fail(f"week {w}: {type(exc).__name__}: {exc}")
            break
        ctx.rounds.append(time.perf_counter() - start)
        ctx.shares.append(trace.unstolen_share(ticks, trace.cpu_ticks()))
        ctx.log(f"week {w}: {ctx.rounds[-1]:.2f} s, "
                f"{1 - ctx.shares[-1]:.1%} stolen, operations "
                + " ".join(f"{x:.2f}" for x in ctx.latencies[first_op:]))
        w += 1
    ctx.measure_end = time.perf_counter()
    ctx.round_s = trace.median(r * s for r, s in zip(ctx.rounds, ctx.shares))

    _check_final(ctx, eng, model, index, next_doc)
    ctx.log(f"{w} weeks; input bytes={tally['input']} "
            f"written={tally['written']}")
    if ctx.rec.traced:
        _layer(ctx, eng, root, tally, merge_s, per_op, stream_s, fresh_ms,
               plan, collect, w)


def _layer(ctx, eng, root, tally, merge_s, per_op, stream_s, fresh_ms,
           plan, collect, weeks) -> None:
    from .trace import median

    # space amplification: warehouse bytes per byte of the live rows as
    # one compact parquet file
    on_disk = compact = 0
    con = duckdb.connect()
    for t in UPSERTED:
        on_disk += sum(_snapshot(eng._path(t)).values())
        out = os.path.join(root, f"compact_{t}.parquet")
        con.execute(f"COPY (SELECT * FROM {_table_sql(eng._path(t))}) "
                    f"TO '{out}' (FORMAT parquet)")
        compact += os.path.getsize(out)
    con.close()
    ctx.log(f"warehouse bytes={on_disk}, as compact parquet={compact}")
    n = max(weeks, 1)
    ctx.layer.update({
        "weekly_pipeline_s": tally["weekly_s"] / n,
        "er_pairs_per_s": tally["pairs"] / max(tally["weekly_s"], 1e-9),
        "files_written": tally["files"] / n,
        "partitions_rewritten": tally["parts"] / n,
        "write_amp": tally["written"] / max(tally["input"], 1),
        "space_amp": on_disk / max(compact, 1),
        "stream_drain_s": median(stream_s),
        "fresh_read_ms": median(fresh_ms),
        "plan_ms": median(plan),
        "collect_ms": median(collect),
    })
    for t, xs in merge_s.items():
        ctx.layer[f"merge_upsert_s.{t}"] = median(xs)
    for op, xs in per_op.items():
        ctx.layer[f"serve_ms.{op}"] = median(xs)
    lookups = [s for s in ctx.rec.timed("lookup")]
    if ctx.rec.traced and lookups:
        ctx.layer["jobs_per_request"] = median(s.jobs for s in lookups)


def _check_matches(ctx, w: int, week: dict, matches, model: Model) -> None:
    """A new application's applicant whose name is exactly a current
    company name must have a top-ranked match of confidence 1.0."""
    names = {v[0].lower() for v in model.rows["companies"].values()}
    existing = model.rows["planning_applications"]
    top = {r["applicant_key"]: r["confidence"] for r in matches
           if r["match_rank"] == 1}
    d = week["discovered"]
    for bor, ref, name in zip(d["borough"], d["reference"], d["applicant_name"]):
        if ((bor, ref) not in existing and name.lower() in names
                and top.get(f"{bor}|{ref}") != 1.0):
            ctx.fail(f"week {w}: exact applicant {name!r} not matched at 1.0")
            return


def _check_final(ctx, eng, model: Model, index: str, n_docs: int) -> None:
    con = duckdb.connect()
    for t in UPSERTED:
        keys, vals = CHECK_COLS[t]
        got = con.execute(f"SELECT {', '.join(keys + vals)} FROM "
                          f"{_table_sql(eng._path(t))}").fetchall()
        ctx.attempted += 1
        have = {tuple(r[:len(keys)]): tuple(r[len(keys):]) for r in got}
        if len(have) != len(got):
            ctx.fail(f"{t}: duplicate merge keys")
        elif have != model.rows[t]:
            stale = sum(have.get(k) != v for k, v in model.rows[t].items())
            ctx.fail(f"{t}: {len(have)} keys vs {len(model.rows[t])} expected, "
                     f"{stale} missing or stale")
    ctx.attempted += 1
    n = con.execute(f"SELECT count(DISTINCT doc_id) FROM "
                    f"{_table_sql(index)}").fetchone()[0]
    if n != n_docs:
        ctx.fail(f"text index holds {n} documents, expected {n_docs}")
    con.close()
