"""Expected outputs computed in DuckDB over the generated files, apart
from the program: last-writer-wins by (lsn, seq) per url over the log,
the text and canonical lang the generator recorded for each event, and
the snapshot rows no event touched, with the text and canonical lang the
generator recorded for them.

Each ``check_*`` returns a list of mismatch descriptions; empty means the
output is correct.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa


def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


class Oracle:
    def __init__(self, gen_dir: str, files: list[str]):
        """``files``: the log file names in delivery order."""
        self.db = duckdb.connect()
        self._states: set[str] = set()
        idx = pa.table({"name": files, "fidx": list(range(len(files)))})
        self.db.register("file_order", idx)
        log = ", ".join(_q(f"{gen_dir}/log/{f}") for f in files)
        truth = ", ".join(_q(f"{gen_dir}/truth/{f}") for f in files)
        self.db.execute(f"""
          create table ev as
          select e.lsn, e.seq, e.op, coalesce(e.after.url, e.before.url) as url, o.fidx
          from read_parquet([{log}], filename = true) e
          join file_order o on o.name = regexp_extract(e.filename, '[^/]+$')
          where e.op != 'ddl'""")
        self.db.execute(f"create table truth as select * from read_parquet([{truth}])")
        # the derived text and canonical lang each snapshot row must land as
        self.db.execute(
            f"create table snap as select * from {_q(gen_dir + '/truth/snapshot.parquet')}")

    def _winners(self, lo: int, hi: int) -> str:
        """Per-url last event among files lo..hi (inclusive)."""
        return f"""(select w.url, w.op, w.lsn, w.seq, t.text, t.lang from (
                      select *, row_number() over (
                        partition by url order by lsn desc, seq desc) rn
                      from ev where fidx between {lo} and {hi}) w
                    join truth t on t.lsn = w.lsn and t.seq = w.seq
                    where w.rn = 1)"""

    def state_sql(self, upto: int) -> str:
        """Live rows (url, text, lang) after files 0..upto applied on top of
        the snapshot; upto = -1 is the snapshot alone. Computed once per
        upto: many reads check against the same state."""
        name = f"state_{upto}".replace("-", "m")
        if name not in self._states:
            w = self._winners(0, upto)
            self.db.execute(f"""create temp table {name} as
                select url, text, lang from {w} where op != 'd'
                union all
                select s.url, s.text, s.lang from snap s
                where s.url not in (select url from {w})""")
            self._states.add(name)
        return name

    @staticmethod
    def _diff(db, actual: pa.Table, expected_sql: str, cols: str, label: str,
              limit: int = 3) -> list[str]:
        db.register("actual", actual)
        try:
            extra = db.execute(
                f"select {cols} from actual except all select {cols} from {expected_sql}"
            ).fetchall()
            missing = db.execute(
                f"select {cols} from {expected_sql} except all select {cols} from actual"
            ).fetchall()
        finally:
            db.unregister("actual")
        out = []
        if extra:
            out.append(f"{label}: {len(extra)} unexpected rows, e.g. {extra[:limit]}")
        if missing:
            out.append(f"{label}: {len(missing)} missing rows, e.g. {missing[:limit]}")
        return out

    def check_state(self, actual: pa.Table, upto: int) -> list[str]:
        """Whole table: one row per live url, its last event's text and lang."""
        return self._diff(self.db, actual, self.state_sql(upto), "url, text, lang", "state")

    def check_points(self, actual: pa.Table, urls: list[str], upto: int) -> list[str]:
        lst = ", ".join(_q(u) for u in urls)
        exp = f"(select * from {self.state_sql(upto)} where url in ({lst}))"
        return self._diff(self.db, actual, exp, "url, text, lang", "point")

    def check_scan(self, actual: pa.Table, upto: int) -> list[str]:
        """Per-lang row count and total text length."""
        exp = f"""(select lang, count(*) as n, sum(length(text)) as chars
                   from {self.state_sql(upto)} group by lang)"""
        return self._diff(self.db, actual, exp, "lang, n, chars", "scan")

    def check_changes(self, actual: pa.Table, lo: int, hi: int) -> list[str]:
        """A change-feed window over files lo..hi: each touched url's last
        event in the window, deletes typed 'delete' with no payload."""
        w = self._winners(lo, hi)
        exp = f"""(select url, lsn as _lsn, seq as _seq,
                          case when op = 'd' then 'delete' else 'upsert' end as _change_type,
                          text, lang from {w})"""
        return self._diff(self.db, actual, exp, "url, _lsn, _seq, _change_type, text, lang",
                          "changes")

    def close(self) -> None:
        self.db.close()
