"""DuckDB oracle results of registry queries, as canonical multisets.

Usage (from the root of a checkout of the repository):

    python3 perfbench/oracle.py <data dir> <out.json> <query>...

Runs each query's ``__spark_entry__.oracle_sql()`` twin over every
``<table>.parquet`` in ``<data dir>`` and writes ``{query: multiset}``
to ``<out.json>``, the multiset being ``tools/check_oracle.py``'s
canonical form.  The benchmark runs it as a child process beside the
registry workload's cold first pass, which it would otherwise follow.
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys


def main(argv: list[str]) -> int:
    data, out, *queries = argv
    root = os.getcwd()
    sys.path.insert(0, root)
    import duckdb

    import __spark_entry__

    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "tools", "check_oracle.py")
    )
    co = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(co)
    oracles = __spark_entry__.oracle_sql()
    con = duckdb.connect()
    con.execute("SET threads = 1")
    for f in sorted(os.listdir(data)):
        if f.endswith(".parquet"):
            path = os.path.join(data, f)
            con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS SELECT * FROM '{path}'")
    result = {}
    for q in queries:
        cur = con.execute(oracles[q])
        result[q] = co.df_to_multiset([d[0] for d in cur.description], cur.fetchall())
    con.close()
    with open(out + ".tmp", "w") as fh:
        json.dump(result, fh)
    os.replace(out + ".tmp", out)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
