"""The repo's DuckDB oracle (bitfunnel_spark.plans.oracle), run over the same
documents rows the engine indexes.

Every oracle statement opens with the same corpus-statistics CTE chain
(``WITH <corpus_cte>, ...``), which re-tokenizes the whole corpus. Run
unchanged, the statements cost ~0.35 s per query on 5,000 documents and
~9.5 s per 372-query micro-batch check on 200 documents (4 cores). So the
chain's tables are materialized once per corpus and each statement runs with
that shared opening removed: ~0.1 s per query, ~2.2 s per micro-batch check.
"""

from __future__ import annotations

import duckdb

from bitfunnel_spark.plans.oracle import corpus_cte

# the chain's CTE names, in dependency order
CHAIN = ("corpus", "body_tok", "dl", "meta", "tf", "dfreq")


def run_oracle(documents_sql: str, sqls: list[str], threads: int, temp_dir: str) -> list[list[tuple]]:
    """Result rows of each oracle statement over ``documents_sql``'s rows."""
    chain = corpus_cte("standard")
    head = f"WITH {chain},\n"
    con = duckdb.connect()
    try:
        con.execute(f"SET threads={int(threads)}")
        con.execute(f"SET temp_directory='{temp_dir}'")
        con.execute(f"CREATE TABLE documents AS {documents_sql}")
        for name in CHAIN:
            con.execute(f"CREATE TABLE {name} AS WITH {chain} SELECT * FROM {name}")
        out = []
        for sql in sqls:
            if not sql.startswith(head):
                raise RuntimeError("oracle statement does not open with the standard CTE chain")
            out.append(con.execute("WITH " + sql[len(head):]).fetchall())
        return out
    finally:
        con.close()
