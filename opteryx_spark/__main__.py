"""CLI: ``python -m opteryx_spark "SELECT ..."``.

Reference parity: ``opteryx/__main__.py`` (run a statement against files,
print a table or write a converted file).
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(
        prog="opteryx_spark", description="Run SQL over files with the PySpark engine"
    )
    parser.add_argument("sql", help="SQL statement (supports FROM 'path/file.parquet')")
    parser.add_argument("--data-dir", help="directory of parquet tables to register as views")
    parser.add_argument("--max-rows", type=int, default=50, help="rows to display")
    parser.add_argument("-o", "--output", help="write full result to this file (by extension)")
    args = parser.parse_args(argv)

    from opteryx_spark import connect, errors

    conn = connect()
    if args.data_dir:
        from opteryx_spark.catalog import register_sf_dir

        register_sf_dir(conn.spark, args.data_dir)
    try:
        with errors.boundary():
            cur = conn.cursor().execute(args.sql)
            if args.output:
                out = args.output
                if out.endswith(".parquet"):
                    cur.df.coalesce(1).write.mode("overwrite").parquet(out)
                elif out.endswith(".csv"):
                    cur.df.coalesce(1).write.mode("overwrite").option("header", True).csv(out)
                elif out.endswith((".jsonl", ".json")):
                    cur.df.coalesce(1).write.mode("overwrite").json(out)
                else:
                    raise SystemExit(f"unsupported output format: {out}")
                print(f"wrote {out}")
            else:
                cur.df.show(args.max_rows, truncate=False)
    except errors.Error as exc:
        print(type(exc).__name__ + ": " + str(exc).strip().partition("\n")[0], file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
