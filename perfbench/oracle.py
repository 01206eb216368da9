"""Correctness oracle: every response is checked after the measured window.

Exact expected values come from DuckDB over the same inputs the server
read (the generated layout parquet, or the closed-form fsimage namespace
plus the changelog segments applied so far). Shapes whose bins would
need the engine's own bucketing rules get consistency checks instead:
bins must add up to the matching count.

``Oracle.check(request, table, status, body)`` returns ``(ok, reason)``;
``table`` names the DuckDB table holding the namespace version the
response must reflect.
"""

from __future__ import annotations

import gzip
import json
import math

SUM_SQL = {
    "count": "COUNT(*)",
    "fileSize": "SUM(fileSize)",
    "diskspaceConsumed": "SUM(fileSize * fileReplica)",
    "numReplicas": "SUM(numBlocks * fileReplica)",
}
_OPS = {"gt": ">", "eq": "=", "lt": "<", "gte": ">=", "lte": "<="}


def where(filters: str | None, *extra: str) -> str:
    """SQL WHERE clause for a ``field:op:value,...`` filter list (the
    fields and ops the decks use), ANDed with ``extra`` conditions."""
    terms = list(extra)
    for triplet in filters.split(",") if filters else []:
        fld, op, val = triplet.split(":", 2)
        rhs = val if val.lstrip("-").isdigit() else "'" + val.replace("'", "''") + "'"
        terms.append(f'"{fld}" {_OPS[op]} {rhs}')
    return " AND ".join(terms) if terms else "TRUE"


FILES = "type = 'file'"


def decode(body: bytes, gzipped: bool) -> str:
    return (gzip.decompress(body) if gzipped else body).decode("utf-8")


class Oracle:
    def __init__(self, con) -> None:
        self.con = con
        self._memo: dict = {}

    # ------------------------------------------------------------ helpers
    def scalar(self, sql: str):
        key = ("scalar", sql)
        if key not in self._memo:
            self._memo[key] = self.con.execute(sql).fetchone()[0]
        return self._memo[key]

    def rows(self, sql: str) -> list[tuple]:
        key = ("rows", sql)
        if key not in self._memo:
            self._memo[key] = self.con.execute(sql).fetchall()
        return self._memo[key]

    def grouped(self, sql: str) -> dict:
        return {r[0]: r[1] for r in self.rows(sql)}

    def _ancestors(self, table: str) -> str:
        """One (file, ancestor dir) row per file and each proper ancestor,
        root included — the subtree explode, done once per table."""
        name = f"{table}__anc"
        if ("anc", table) not in self._memo:
            self.con.execute(
                f"""CREATE OR REPLACE TEMP TABLE {name} AS
                SELECT id, "user", anc FROM (
                  SELECT id, "user", unnest(list_concat(['/'], list_transform(
                    range(2, len(string_split(path, '/'))),
                    i -> array_to_string(string_split(path, '/')[1:i], '/')))) AS anc
                  FROM {table} WHERE {FILES})"""
            )
            self._memo[("anc", table)] = name
        return name

    # -------------------------------------------------------------- check
    def check(self, req, table: str, status: int, body: bytes) -> tuple[bool, str]:
        if status != 200:
            return False, f"http {status}: {body[:200]!r}"
        try:
            text = decode(body, req.gzip)
            ok = getattr(self, "_" + req.kind)(req.params, table, text)
        except Exception as exc:  # a malformed body is a wrong answer
            return False, f"unparseable: {type(exc).__name__}: {exc}"
        return (True, "") if ok else (False, f"mismatch: {req.url}")

    @staticmethod
    def _num(text: str):
        text = text.strip()
        return None if text == "None" else int(text)

    def _filter_sum(self, p, t, text):
        want = self.scalar(f"SELECT {SUM_SQL[p['sum']]} FROM {t} WHERE {where(p['filters'], FILES)}")
        return self._num(text) == (None if want is None else int(want))

    def _probe(self, p, t, text):
        return self._num(text) == self.scalar(f"SELECT COUNT(*) FROM {t} WHERE {FILES}")

    def _find(self, p, t, text):
        op, fld = p["find"].split(":")
        order = "DESC" if op == "max" else "ASC"
        want = self.rows(
            f'SELECT path, "{fld}" FROM {t} WHERE {where(p["filters"], FILES)} '
            f'ORDER BY "{fld}" {order}, path LIMIT 1'
        )
        return [tuple(line.rsplit(",", 1)) for line in text.splitlines()] == [
            (path, str(v)) for path, v in want
        ]

    def _hist_user(self, p, t, text):
        want = self.grouped(
            f'SELECT "user", {SUM_SQL[p["sum"]]} FROM {t} '
            f'WHERE {where(p.get("filters"), FILES)} GROUP BY 1'
        )
        return json.loads(text) == {k: int(v) for k, v in want.items()}

    def _bins_add_up(self, p, t, text):
        got = json.loads(text)
        return sum(got.values()) == self.scalar(
            f"SELECT COUNT(*) FROM {t} WHERE {where(p.get('filters'), FILES)}"
        )

    _hist_filetype = _hist_size = _hist_modtime = _bins_add_up

    def _hist_parentdir(self, p, t, text):
        d = int(p["parentDirDepth"])
        want = self.grouped(
            f"SELECT array_to_string(string_split(path, '/')[1:{d + 1}], '/'), COUNT(*) "
            f"FROM {t} WHERE {FILES} AND len(string_split(path, '/')) - 2 >= {d} GROUP BY 1"
        )
        return json.loads(text) == want

    def _hist2(self, p, t, text):
        per_user = {u: sum(v.values()) for u, v in json.loads(text).items()}
        return per_user == self.grouped(f'SELECT "user", COUNT(*) FROM {t} WHERE {FILES} GROUP BY 1')

    def _hist3(self, p, t, text):
        want = {
            u: [c, int(s), m]
            for u, c, s, m in self.rows(
                f'SELECT "user", COUNT(*), SUM(fileSize), MAX(modTime) FROM {t} '
                f"WHERE {FILES} GROUP BY 1"
            )
        }
        return json.loads(text) == want

    def _divide(self, p, t, text):
        num = self.scalar(f"SELECT SUM(fileSize * fileReplica) FROM {t} WHERE {where(p['filters1'], FILES)}")
        den = self.scalar(f"SELECT SUM(fileSize) FROM {t} WHERE {where(p['filters2'], FILES)}")
        return math.isclose(float(text), num / den, rel_tol=1e-9)

    def _summary(self, p, t, text):
        path = p["path"].replace("'", "''")
        row = self.rows(
            f"""SELECT COUNT(*) FILTER (WHERE {FILES}), COUNT(*) FILTER (WHERE type = 'dir'),
                   COALESCE(SUM(fileSize) FILTER (WHERE {FILES}), 0),
                   COALESCE(SUM(fileSize * fileReplica) FILTER (WHERE {FILES}), 0)
            FROM {t} WHERE path = '{path}' OR starts_with(path, '{path}/')"""
        )[0]
        got = json.loads(text)
        return [got["fileCount"], got["dirCount"], got["length"], got["spaceConsumed"]] == list(row)

    def _dump(self, p, t, text):
        path = p["path"].replace("'", "''")
        want = self.rows(f"""SELECT id, "user", modTime FROM {t} WHERE path = '{path}'""")
        got = json.loads(text)
        return len(want) == 1 and (got["id"], got["user"], got["modTime"]) == want[0]

    def _lines(self, text: str) -> list[str]:
        return text[:-1].split("\n") if text not in ("", "\n") else []

    def _paths(self, p, t, text):
        limit = f"LIMIT {int(p['limit'])}" if "limit" in p else ""
        want = [r[0] for r in self.rows(
            f"SELECT path FROM {t} WHERE {where(p.get('filters'), FILES)} ORDER BY path {limit}"
        )]
        return self._lines(text) == want

    _paths_all = _paths

    def _subtree(self, p, t, text):
        n = int(p["filters"].rsplit(":", 1)[1])
        anc = self._ancestors(t)
        want = self.grouped(
            f"""SELECT d."user", COUNT(*) FROM {t} d
            LEFT JOIN (SELECT anc, COUNT(*) AS n FROM {anc} GROUP BY anc) s ON s.anc = d.path
            WHERE d.type = 'dir' AND COALESCE(s.n, 0) > {n} GROUP BY 1"""
        )
        return json.loads(text) == want

    def _quota(self, p, t, text):
        anc = self._ancestors(t)
        want = self.grouped(
            f"""SELECT "user", COUNT(*) FROM {t} WHERE {FILES} AND id IN (
                  SELECT a.id FROM {anc} a JOIN {t} q ON q.path = a.anc
                  WHERE q.type = 'dir' AND q.path <> '/' AND q.nsQuota >= 0)
                GROUP BY 1"""
        )
        return json.loads(text) == want

    def _refresh(self, p, t, text):
        return isinstance(json.loads(text).get("version"), int)


# ---------------------------------------------------------------- tables
COLUMNS = 'id, type, path, "user", modTime, fileSize, fileReplica, numBlocks, nsQuota, dsQuota'


def load_reference(con, table_dir: str) -> str:
    """The layout parquet as DuckDB table ``ref``."""
    con.execute(
        f"CREATE TABLE ref AS SELECT {COLUMNS} FROM read_parquet("
        f"'{table_dir}/*/*.parquet', hive_partitioning = true)"
    )
    return "ref"


class ImageVersions:
    """DuckDB tables for the fsimage namespace after the first k changelog
    segments: ``img_v0`` is the closed form (oivgen.oracle_sql for files,
    root + n_dirs directories), ``img_v<k>`` applies segments 0..k-1."""

    def __init__(self, con, n_dirs: int, files_per_dir: int, segment_files: list[str]) -> None:
        from nnanalytics_spark.sources import oivgen

        self.con = con
        self.segments = segment_files
        root, base = oivgen.ROOT_ID, oivgen.BASE_MS
        con.execute(
            f"""CREATE TABLE img_v0 AS
            SELECT id, type, path, "user", "modTime", "fileSize", "fileReplica",
                   "numBlocks", NULL::BIGINT AS nsQuota, NULL::BIGINT AS dsQuota
            FROM ({oivgen.oracle_sql(n_dirs, files_per_dir)})
            UNION ALL
            SELECT {root} + d, 'dir', CASE WHEN d = 0 THEN '/' ELSE '/dir' || (d - 1) END,
                   'hdfs', {base} + GREATEST(d - 1, 0), NULL, NULL, NULL,
                   CASE WHEN d = 0 THEN 9000 ELSE -1 END, -1
            FROM range({n_dirs + 1}) t(d)"""
        )
        self._made = {0}

    def table(self, k: int) -> str:
        if k not in self._made:
            files = ", ".join(f"'{f}'" for f in self.segments[:k])
            self.con.execute(
                f"""CREATE TABLE img_v{k} AS
                WITH log AS (SELECT * FROM read_parquet([{files}]))
                SELECT * FROM img_v0 WHERE id NOT IN (SELECT id FROM log)
                UNION ALL
                SELECT {COLUMNS} FROM log WHERE op = 'add'"""
            )
            self._made.add(k)
        return f"img_v{k}"

    def file_count(self, k: int) -> int:
        return self.con.execute(f"SELECT COUNT(*) FROM {self.table(k)} WHERE type = 'file'").fetchone()[0]
