"""Seeded input generators for the benchmark workloads.

Each generator takes a seed and an output directory, writes only the
program's input files plus ``planted.json`` (what it planted, for the
output checks), and returns the parsed ``planted`` record. The same seed
always gives the same bytes: every random draw comes from one
``random.Random`` seeded with a string, and every file is written in a
fixed order with fixed key order.

- :func:`gen_analyze_day` — one day's slow-query log as Kibana
  ``_msearch`` pages, a CQL schema, a tag map and query patterns.
- :func:`gen_stream_tail` — the same log without patterns, staged as
  time-ordered newline-delimited raw-log files for a file-source stream.
- :func:`gen_curate_corpus` — a document corpus with planted exact and
  near duplicates, boilerplate spam and PII strings.
- :func:`gen_curate_and_tail` — a corpus and a stream tail side by side,
  for the ``curate_and_tail`` workload.
"""

from __future__ import annotations

import csv
import itertools
import json
import os
import random
from datetime import datetime, timedelta, timezone

DAY = datetime(2026, 3, 14, tzinfo=timezone.utc)
KEYSPACES = ["accounts", "billing", "catalog", "telemetry"]
# Ten column families per keyspace; ``sessions`` and ``audit`` exist in
# two keyspaces each, so a bare-cf query for them resolves through the
# tag map (the cf -> keyspace guess is poisoned to 'unknown').
CF_NAMES = {
    "accounts": ["users", "users_by_email", "sessions", "logins", "devices",
                 "profiles", "roles", "grants", "tokens", "audit"],
    "billing": ["invoices", "payments", "refunds", "ledger", "plans",
                "subscriptions", "coupons", "taxes", "sessions", "audit"],
    "catalog": ["products", "prices", "stock", "reviews", "categories",
                "sellers", "images", "bundles", "tags", "search_terms"],
    "telemetry": ["events", "metrics", "traces", "spans", "alerts",
                  "hosts", "checks", "incidents", "rollups", "samples"],
}
# a table that queries reference but the schema dump does not hold
UNKNOWN_TABLE = ("legacy", "audit_log", ["id"])
# the three one-parameter prefix patterns: (keyspace, cf, parameter)
PATTERN_TABLES = [
    ("accounts", "users_by_email", "email"),
    ("accounts", "tokens", "token"),
    ("catalog", "search_terms", "term"),
]
TS_FORMAT = "%Y-%m-%dT%H:%M:%S.%fZ"
FACT_TS_FORMAT = "%Y-%m-%d %H:%M:%S.%f"
FACT_COLUMNS = ["ts", "type", "duration", "query", "primary_key",
                "keyspace", "column_family"]
MALFORMED_KINDS = ("bad_ts", "bad_grammar", "unknown_statement")

# Traffic shares. These are assumptions, not measurements: the workload
# is specified only by its properties (a statement mix in mixed case,
# Zipf-skewed keys, a burst hour, 1-2% malformed lines), and no sample of
# a real slow-query log is in the repository to take shares from.
# perfbench/README.md lists each value and where it comes from.
# statement kind -> relative weight; "bare" is an unqualified table name
# resolved through the tag map, "pattern" a one-parameter prefix pattern
STATEMENT_WEIGHTS = {"select": 48, "insert": 18, "batch": 5, "delete": 5, "update": 5,
                     "bare": 6, "unknown_table": 2, "pattern": 11}
LOWER_CASE_SHARE = 0.2
N_KEYS, KEY_ZIPF_S = 4000, 1.1
TABLE_ZIPF_S = 0.8
BURST_FACTOR = 5
# duration in ms ~ lognormal(mu, sigma), at least 10
DURATION_MU, DURATION_SIGMA = 5.0, 0.9
MALFORMED_SHARE = 0.015
NON_SLOW_SHARE = 0.01
FALLBACK_SHARE = 0.01


def _key_forms(rng: random.Random, cf: str) -> tuple[list[str], list[str]]:
    """Partition and clustering key columns of one table: inline single
    key, flat ``(pk, ck...)`` or composite ``((a, b), c)``."""
    form = rng.choice(["inline", "flat", "composite"])
    if form == "inline":
        return [f"{cf}_id"], []
    if form == "flat":
        return [f"{cf}_id"], ["bucket", "seq"][: rng.randint(1, 2)]
    return ["tenant", f"{cf}_id"], ["seq"]


def build_schema(rng: random.Random) -> tuple[dict, str]:
    """``{(ks, cf): (pk_cols, ck_cols)}`` and its CQL DDL dump."""
    tables: dict = {}
    ddl = []
    for ks in KEYSPACES:
        for cf in CF_NAMES[ks]:
            if (ks, cf) in {(k, c) for k, c, _ in PATTERN_TABLES}:
                pk, ck = [dict((c, p) for _, c, p in PATTERN_TABLES)[cf]], []
            else:
                pk, ck = _key_forms(rng, cf)
            tables[(ks, cf)] = (pk, ck)
            cols = pk + ck + ["payload"]
            ddl.append(f"CREATE TABLE {ks}.{cf} (")
            if len(pk) == 1 and not ck:
                ddl.append(f"    {pk[0]} text PRIMARY KEY,")
                ddl.extend(f"    {c} text," for c in cols[1:-1])
                ddl.append("    payload text")
            else:
                ddl.extend(f"    {c} text," for c in cols)
                if len(pk) > 1:
                    ddl.append(f"    PRIMARY KEY (({', '.join(pk)}), {', '.join(ck)})")
                else:
                    ddl.append(f"    PRIMARY KEY ({', '.join(pk + ck)})")
            ddl.append(") WITH gc_grace_seconds = 864000;")
            ddl.append("")
    return tables, "\n".join(ddl)


def _zipf_cum_weights(n: int, s: float) -> list[float]:
    return list(itertools.accumulate(1.0 / (r ** s) for r in range(1, n + 1)))


class LogMaker:
    """Draws one day of slow-query log rows and the fact each valid row
    should parse to. Shared by the batch and stream generators."""

    def __init__(self, rng: random.Random, with_patterns: bool) -> None:
        self.rng = rng
        self.with_patterns = with_patterns
        self.tables, self.ddl = build_schema(rng)
        self.cf_keyspaces: dict = {}
        for ks, cf in sorted(self.tables):
            self.cf_keyspaces.setdefault(cf, []).append(ks)
        # Plain bound-value queries never hit a pattern table: the pattern
        # prefix would match them too and rebind the key to '?'.
        pattern_tables = {(ks, cf) for ks, cf, _ in PATTERN_TABLES}
        self.table_list = sorted(set(self.tables) - pattern_tables)
        self.tags = {f"cluster-{ks}": ks for ks in KEYSPACES}
        self.key_cum = _zipf_cum_weights(N_KEYS, KEY_ZIPF_S)
        self.table_cum = _zipf_cum_weights(len(self.table_list), TABLE_ZIPF_S)
        self.burst_hour = rng.randrange(24)
        self.patterns = [
            {"start": f"SELECT * FROM {ks}.{cf} WHERE {p}", "parameters": [p]}
            for ks, cf, p in PATTERN_TABLES
        ] if with_patterns else []

    def timestamps(self, n: int) -> list[datetime]:
        """``n`` sorted instants over the day; the burst hour carries
        ``BURST_FACTOR`` times the density of any other hour."""
        rng = self.rng
        hours = [BURST_FACTOR if h == self.burst_hour else 1 for h in range(24)]
        out = []
        for h in rng.choices(range(24), weights=hours, k=n):
            out.append(DAY + timedelta(hours=h, microseconds=rng.randrange(3_600_000_000)))
        out.sort()
        return out

    def _key(self, table: tuple) -> str:
        rank = self.rng.choices(range(N_KEYS), cum_weights=self.key_cum)[0]
        return f"{table[1][:3]}{rank:05d}"

    def _bound(self, cols: list[str], table: tuple) -> dict:
        return {c: (self._key(table) if c.endswith("_id") or c in ("email", "token", "term")
                    else f"{c[:1]}{self.rng.randrange(50)}") for c in cols}

    def row(self, ts: datetime) -> tuple[dict, dict]:
        """One valid hit ``_source`` dict and the fact it must parse to."""
        rng = self.rng
        duration = max(10, int(rng.lognormvariate(DURATION_MU, DURATION_SIGMA)))
        tags = ["dc1"]
        kinds = [k for k in STATEMENT_WEIGHTS if self.with_patterns or k != "pattern"]
        kind = rng.choices(kinds, weights=[STATEMENT_WEIGHTS[k] for k in kinds])[0]
        lower = rng.random() < LOWER_CASE_SHARE
        if kind == "pattern":
            ks, cf, p = rng.choice(PATTERN_TABLES)
            value = self._key((ks, cf))
            if p == "email":
                value = f"{value}@example.org"
            msg_body = f"SELECT * FROM {ks}.{cf} WHERE {p} = '{value}' LIMIT 1;"
            fact_query = f"SELECT * FROM {ks}.{cf} WHERE {p} = ? LIMIT 1;"
            fact = dict(type="SELECT", query=fact_query, primary_key=value,
                        keyspace=ks, column_family=cf)
        else:
            if kind == "unknown_table":
                ks, cf, pk = UNKNOWN_TABLE
                ck = []
            elif kind == "bare":
                cf = rng.choice(["sessions", "audit", "ledger", "stock", "hosts"])
                ks = rng.choice(self.cf_keyspaces[cf])
                pk, ck = self.tables[(ks, cf)]
                tags = ["dc1", f"cluster-{ks}"]
            else:
                ks, cf = rng.choices(self.table_list, cum_weights=self.table_cum)[0]
                pk, ck = self.tables[(ks, cf)]
            table = cf if kind == "bare" else f"{ks}.{cf}"
            bv = self._bound(pk + ck, (ks, cf))
            where = " AND ".join(f"{c} = ?" for c in pk + ck)
            stype = "SELECT" if kind in ("select", "bare", "unknown_table") else kind.upper()
            if stype == "SELECT":
                q = f"SELECT * FROM {table} WHERE {where} LIMIT 5000;"
            elif stype == "INSERT":
                bv["payload"] = f"p{rng.randrange(1000)}"
                cols = list(bv)
                q = (f"INSERT INTO {table} ({', '.join(cols)}) "
                     f"VALUES ({', '.join('?' for _ in cols)});")
            elif stype == "BATCH":
                stype = "BEGIN BATCH"
                q = (f"BEGIN BATCH UPDATE {table} SET payload = ? WHERE {where}; "
                     f"DELETE FROM {table} WHERE {where}; APPLY BATCH;")
            elif stype == "DELETE":
                q = f"DELETE FROM {table} WHERE {where};"
            else:
                bv["payload"] = f"p{rng.randrange(1000)}"
                q = f"UPDATE {table} SET payload = ? WHERE {where};"
            if lower:
                # reference grammar accepts all-upper or all-lower keywords
                for kw in ("SELECT", "FROM", "WHERE", "AND", "LIMIT", "INSERT INTO",
                           "VALUES", "BEGIN BATCH", "APPLY BATCH", "UPDATE", "SET",
                           "DELETE"):
                    q = q.replace(kw + " ", kw.lower() + " ").replace(kw + ";", kw.lower() + ";")
            bv_text = ", ".join(f"{k}:'{v}'" for k, v in bv.items())
            msg_body = f"[{len(bv)} bound values] {q} [{bv_text}]"
            if stype in ("SELECT", "INSERT"):
                in_schema = (ks, cf) in self.tables
                fact = dict(
                    type=stype, query=q, keyspace=ks, column_family=cf,
                    primary_key="-".join(bv[c] for c in pk) if in_schema else "",
                )
            else:
                fact = dict(type="BATCH" if stype == "BEGIN BATCH" else stype,
                            query=q, keyspace="", column_family="", primary_key="")
        fact["ts"] = ts.strftime(FACT_TS_FORMAT)
        fact["duration"] = duration
        src = {
            "@timestamp": ts.strftime(TS_FORMAT),
            "message": f"INFO  [ReadStage-2] {ts:%Y-%m-%d %H:%M:%S},{ts.microsecond // 1000:03d} "
                       f"MonitoringTask.java:171 - Query too slow, took {duration} ms: {msg_body}",
            "tags": tags,
        }
        return src, fact

    def malformed(self, ts: datetime, which: str) -> dict:
        """A planted malformed row: exactly one defect per row."""
        src, _ = self.row(ts)
        if which == "bad_ts":
            src["@timestamp"] = ts.strftime("%Y-%m-%dT%H:%M:%SZ")
        elif which == "bad_grammar":
            src["message"] = src["message"].replace(" ms: ", ".5 ms: ", 1)
        elif which == "unknown_statement":
            head = src["message"].split(" ms: ", 1)[0]
            src["message"] = head + " ms: " + self.rng.choice(
                ["TRUNCATE accounts.sessions;", "Select * FROM catalog.stock WHERE stock_id = ?;"]
            )
        return src


def _write_json(path: str, obj) -> None:
    # json.dumps, not json.dump: only the former uses the C encoder
    with open(path, "w", encoding="utf-8") as f:
        f.write(json.dumps(obj, sort_keys=True))


def _write_facts(path: str, facts: list[dict]) -> None:
    with open(path, "w", encoding="utf-8", newline="") as f:
        w = csv.writer(f)
        w.writerow(FACT_COLUMNS)
        for fact in facts:
            w.writerow([fact[c] for c in FACT_COLUMNS])


def _draw_log(maker: LogMaker, n_hits: int, non_slow_share: float, fallback_share: float):
    """``(rows, facts, malformed_counts, n_non_slow, n_fallback)``:
    ``rows`` are hit sources in time order, ``facts`` the expected parse
    of every valid slow row. ``MALFORMED_SHARE`` of rows are malformed slow lines,
    one defect each; ``non_slow_share`` of rows carry a message that is
    not a slow-query line and ``fallback_share`` put a valid line under
    ``@message`` instead of ``message``."""
    rng = maker.rng
    rows, facts = [], []
    counts = dict.fromkeys(MALFORMED_KINDS, 0)
    n_non_slow = n_fallback = 0
    for ts in maker.timestamps(n_hits):
        u = rng.random()
        if u < MALFORMED_SHARE:
            which = rng.choice(MALFORMED_KINDS)
            counts[which] += 1
            rows.append(maker.malformed(ts, which))
            continue
        src, fact = maker.row(ts)
        if u < MALFORMED_SHARE + non_slow_share:
            src["message"] = (src["message"].split(" - ")[0]
                              + " - Compacted 4 sstables to [/var/lib/cassandra/data/x].")
            n_non_slow += 1
        else:
            if u < MALFORMED_SHARE + non_slow_share + fallback_share:
                src["@message"] = src.pop("message")
                n_fallback += 1
            facts.append(fact)
        rows.append(src)
    return rows, facts, counts, n_non_slow, n_fallback


def gen_analyze_day(seed: int, out_dir: str, n_hits: int = 40_000, n_pages: int = 10) -> dict:
    """One day of slow-query hits as ``n_pages`` Kibana ``_msearch``
    pages plus ``schema.cql``, ``tags.json`` and ``queries.json``.

    Planted: mixed-case statement mix, Zipf-skewed keys, one burst hour,
    about 1.5% malformed slow lines (bad timestamp, non-integer
    duration, unknown statement), non-slow messages, ``@message``
    fallbacks, failed-shard entries on two pages and one truncated page.
    """
    rng = random.Random(f"analyze_day:{seed}")
    maker = LogMaker(rng, with_patterns=True)
    rows, facts, counts, n_non_slow, n_fallback = _draw_log(maker, n_hits, NON_SLOW_SHARE, FALLBACK_SHARE)
    os.makedirs(out_dir, exist_ok=True)
    pages: list[list] = [[] for _ in range(n_pages)]
    for src in rows:
        pages[rng.randrange(n_pages)].append({"_source": src})
    failed_pages = sorted(rng.sample(range(n_pages), 2))
    files, shard_failures = [], {}
    for p, hits in enumerate(pages):
        shards = {"total": 5, "successful": 5, "failed": 0}
        name = f"page-{p:02d}.json"
        if p in failed_pages:
            shards = {"total": 5, "successful": 4, "failed": 1,
                      "failures": [{"reason": {"reason": f"node timeout on shard {p}"}}]}
            shard_failures[name] = 1
        _write_json(os.path.join(out_dir, name),
                    {"responses": [{"_shards": shards, "hits": {"total": len(hits), "hits": hits}}]})
        files.append(name)
    # a download cut off mid-page: unparseable, counted, never crashes
    with open(os.path.join(out_dir, "page-truncated.json"), "w", encoding="utf-8") as f:
        f.write('{"responses": [{"hits": {"total": 1, "hits": [{"_source": {"@timest')
    files.append("page-truncated.json")
    with open(os.path.join(out_dir, "schema.cql"), "w", encoding="utf-8") as f:
        f.write(maker.ddl)
    _write_json(os.path.join(out_dir, "tags.json"), maker.tags)
    _write_json(os.path.join(out_dir, "queries.json"), maker.patterns)
    _write_facts(os.path.join(out_dir, "facts.csv"), facts)
    planted = {
        "workload": "analyze_day", "seed": seed, "files": files,
        "n_hits": len(rows), "n_slow_lines": len(rows) - n_non_slow,
        "n_non_slow": n_non_slow, "n_message_fallback": n_fallback,
        "n_valid": len(facts), "malformed": counts,
        "shard_failures": shard_failures, "corrupt_files": 1,
    }
    _write_json(os.path.join(out_dir, "planted.json"), planted)
    return planted


def _stage_stream_files(out_dir: str, rows: list[dict], n_files: int) -> list[str]:
    """Split time-ordered rows into ``n_files`` consecutive NDJSON files
    of the raw-log frame ``(ts_raw, message, tags)``; modification times
    increase with the file index so the file source reads them in time
    order."""
    os.makedirs(out_dir, exist_ok=True)
    names = []
    per = -(-len(rows) // n_files)
    for i in range(n_files):
        name = f"raw-{i:03d}.json"
        path = os.path.join(out_dir, name)
        with open(path, "w", encoding="utf-8") as f:
            for src in rows[i * per:(i + 1) * per]:
                f.write(json.dumps({"ts_raw": src["@timestamp"], "message": src["message"],
                                    "tags": src["tags"]}, sort_keys=True) + "\n")
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
        names.append(name)
    return names


def gen_stream_tail(seed: int, out_dir: str, n_lines: int = 5_000, n_files: int = 3) -> dict:
    """The :func:`gen_analyze_day` log without query patterns, staged as
    ``n_files`` time-ordered raw-log files under ``out_dir/logs``."""
    rng = random.Random(f"stream_tail:{seed}")
    maker = LogMaker(rng, with_patterns=False)
    rows, facts, counts, _, _ = _draw_log(maker, n_lines, 0.0, 0.0)
    files = _stage_stream_files(os.path.join(out_dir, "logs"), rows, n_files)
    with open(os.path.join(out_dir, "schema.cql"), "w", encoding="utf-8") as f:
        f.write(maker.ddl)
    _write_json(os.path.join(out_dir, "tags.json"), maker.tags)
    _write_facts(os.path.join(out_dir, "facts.csv"), facts)
    planted = {
        "workload": "stream_tail", "seed": seed, "files": files,
        "n_slow_lines": len(rows), "n_valid": len(facts), "malformed": counts,
    }
    _write_json(os.path.join(out_dir, "planted.json"), planted)
    return planted


# Corpus vocabulary: English stopwords (quality score and language ID
# key on them) plus synthetic content words.
STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it", "that", "for",
             "on", "with", "as", "at", "by", "from", "this"]
BOILERPLATE = "click here to subscribe to our newsletter for more"


def _content_words(rng: random.Random, n: int) -> list[str]:
    syll = ["ka", "lo", "mi", "ter", "son", "dra", "vel", "qu", "pan", "rit",
            "ost", "ne", "bal", "cor", "fin", "gu", "hes", "jor", "lum", "tav"]
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(syll) for _ in range(rng.randint(2, 4))))
    return sorted(words)


def gen_curate_corpus(seed: int, out_dir: str, n_docs: int = 400) -> dict:
    """A document corpus ``docs.json`` (NDJSON of ``id, text``).

    Planted, in fixed (assumed) shares so every seed has the same
    structure: ``n_docs // 40`` exact-duplicate groups of three (7.5% of
    documents), as many near-duplicate triples (a base and two copies
    with three word substitutions each), 4% boilerplate spam repeating
    one phrase, and 10% documents carrying a unique email and IPv4
    address. Ids are shuffled so the keeper of a group (its minimum id)
    can be any member.
    """
    rng = random.Random(f"curate_corpus:{seed}")
    vocab = _content_words(rng, 3000)

    def words() -> list[str]:
        return [rng.choice(STOPWORDS) if rng.random() < 0.3 else rng.choice(vocab)
                for _ in range(rng.randint(80, 220))]

    n_groups = max(1, n_docs // 40)
    plan = (["exact"] * n_groups + ["near"] * n_groups + ["spam"] * (n_docs // 25)
            + ["pii"] * (n_docs // 10))
    plan += ["plain"] * (n_docs - len(plan) - 4 * n_groups)
    rng.shuffle(plan)
    texts: list[str] = []
    exact_groups: list[list[int]] = []
    near_groups: list[list[int]] = []
    spam: list[int] = []
    pii: list[str] = []
    for kind in plan:
        n = len(texts)
        if kind == "exact":
            texts.extend([" ".join(words())] * 3)
            exact_groups.append([n, n + 1, n + 2])
        elif kind == "near":
            base = words()
            texts.append(" ".join(base))
            for _ in range(2):
                edited = list(base)
                for _ in range(3):
                    edited[rng.randrange(len(edited))] = rng.choice(vocab)
                texts.append(" ".join(edited))
            near_groups.append([n, n + 1, n + 2])
        elif kind == "spam":
            spam.append(n)
            texts.append(" ".join([BOILERPLATE] * rng.randint(8, 20)))
        elif kind == "pii":
            doc = words()
            planted = [f"user{n}.{rng.randrange(10**6)}@mail{rng.randrange(9)}.example.com",
                       f"10.{rng.randrange(256)}.{rng.randrange(256)}.{n % 250 + 1}"]
            for token in planted:
                doc.insert(rng.randrange(len(doc)), token)
            pii.extend(planted)
            texts.append(" ".join(doc))
        else:
            texts.append(" ".join(words()))
    ids = list(range(1, len(texts) + 1))
    rng.shuffle(ids)

    def remap(groups):
        return [sorted(ids[i] for i in g) for g in groups]

    os.makedirs(out_dir, exist_ok=True)
    order = sorted(range(len(texts)), key=lambda i: ids[i])
    with open(os.path.join(out_dir, "docs.json"), "w", encoding="utf-8") as f:
        for i in order:
            f.write(json.dumps({"id": ids[i], "text": texts[i]}, sort_keys=True) + "\n")
    planted = {
        "workload": "curate_corpus", "seed": seed, "n_docs": len(texts),
        "exact_groups": remap(exact_groups), "near_groups": remap(near_groups),
        "spam_ids": sorted(ids[i] for i in spam), "pii_strings": sorted(pii),
    }
    _write_json(os.path.join(out_dir, "planted.json"), planted)
    return planted


def gen_curate_and_tail(seed: int, out_dir: str, n_docs: int = 400, n_lines: int = 5_000,
                        n_files: int = 3) -> dict:
    """:func:`gen_curate_corpus` under ``out_dir/corpus`` and
    :func:`gen_stream_tail` under ``out_dir/tail``, from the same seed."""
    planted = {
        "workload": "curate_and_tail", "seed": seed,
        "corpus": gen_curate_corpus(seed, os.path.join(out_dir, "corpus"), n_docs),
        "tail": gen_stream_tail(seed, os.path.join(out_dir, "tail"), n_lines, n_files),
    }
    _write_json(os.path.join(out_dir, "planted.json"), planted)
    return planted
