"""DuckDB oracle check of the rows a benchmark run collected.

Uses the normalisation and type checks of ``scripts/check_oracle.py``:
column-name-sorted, row-sorted, repr-compared cells, and the Spark-to-DuckDB
type map. The oracle SQL comes from ``__spark_entry__.oracle_sql_at(dir)``,
which recomputes the embedding-family literals from the generated tables.
"""
from __future__ import annotations

import hashlib
import importlib.util
import os


def _load_check_oracle(root: str):
    path = os.path.join(root, "scripts", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Oracle:
    """Digests of Spark results, compared with DuckDB's rows per query."""

    def __init__(self, root: str) -> None:
        self.co = _load_check_oracle(root)

    def digest(self, cols: list[str], dtypes: list[tuple[str, str]], rows) -> tuple:
        """What one execution is judged by: the column names, the Spark
        types and a hash of the normalised rows. Cheap to keep per run."""
        names, n, h = self._fingerprint(cols, [tuple(r) for r in rows])
        return names, tuple(dtypes), n, h

    def _fingerprint(self, cols, rows) -> tuple:
        names, norm = self.co.norm_rows(cols, rows)
        return tuple(names), len(norm), hashlib.sha256(repr(norm).encode()).hexdigest()

    def expected(self, data_dir: str, sqls: dict[str, str], names) -> dict[str, object]:
        """Per query: the expected digest, or a string naming why the query
        cannot pass (no oracle, DuckDB error)."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in self.co.TABLES:
                path = os.path.join(data_dir, f"{t}.parquet")
                if os.path.exists(path):
                    con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            out: dict[str, object] = {}
            for name in names:
                if name not in sqls:
                    out[name] = "no oracle SQL"
                    continue
                try:
                    rel = con.sql(sqls[name])
                    cols, types, rows = list(rel.columns), list(rel.types), rel.fetchall()
                except duckdb.Error as e:
                    out[name] = f"duckdb error: {e}"
                    continue
                w_names, n, h = self._fingerprint(cols, rows)
                out[name] = (w_names, (cols, types), n, h)
            return out
        finally:
            con.close()

    def mismatch(self, got: tuple, want: object) -> str | None:
        """Why ``got`` (a :meth:`digest`) fails ``want`` (an :meth:`expected`
        entry), or None when it matches."""
        if isinstance(want, str):
            return want
        names, dtypes, n, h = got
        w_names, (d_cols, d_types), w_n, w_h = want
        hazards = [c for c in names if c in self.co.ROW_ATTR_HAZARDS]
        if hazards:
            return f"column(s) shadow Row/tuple attributes: {hazards}"
        bad = self.co.type_mismatches(list(dtypes), d_cols, d_types)
        if bad:
            return f"type drift {bad}"
        if names != w_names:
            return f"columns {names} vs {w_names}"
        if n != w_n:
            return f"row count {n} vs {w_n}"
        if h != w_h:
            return "values differ"
        return None
