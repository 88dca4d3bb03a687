"""Seeded generator for a Price Paid "pp-complete" CSV.

Writes a headerless, all-quoted, 16-column CSV in the shape of HM Land
Registry's pp-complete.txt. The value domains and the share of '' empties
per column follow the committed fixtures (src/test/resources/pp_complete*.csv):
GUID ids, integer prices, "YYYY-MM-DD HH:MM" dates in 2023-2025, "AB<n> <d>XY"
postcodes, five property types, coherent town/district/county triples, and a
street value with an embedded comma that only quoting keeps in one field.

Every value is a hash of (row, column, seed), so one seed always gives the
same file byte for byte. The expected row count and max transaction_date are
computed from the generating integers, before formatting, and are then
cross-checked against an independent read_csv parse of the written file.

Usage: python3 perfbench/gen_pp.py <out.csv> <rows> <seed>
"""
import json
import sys

import duckdb

# Dates start at 2023-01-01 00:00 and span 900 to 1099 days, chosen by the
# seed, so the expected max transaction_date differs between seeds.
DAY_MINUTES = 24 * 60

STREETS = ["HIGH STREET", "STATION ROAD", "MAIN STREET", "PARK AVENUE",
           "CHURCH LANE", "KING'S ROAD, CHELSEA"]
PLACES = [("LONDON", "CITY OF LONDON", "GREATER LONDON"),
          ("LEEDS", "LEEDS", "WEST YORKSHIRE"),
          ("BRISTOL", "BRISTOL", "AVON"),
          ("YORK", "YORK", "NORTH YORKSHIRE")]


def _list(values):
    return "[" + ", ".join("'" + v.replace("'", "''") + "'" for v in values) + "]"


def generate(con, out: str, rows: int, seed: int) -> dict:
    def _h(col: int) -> str:
        """Uniform 0..2^63 pseudo-random integer for (row, column, seed)."""
        return f"CAST(hash(i, {col}, {int(seed)}) >> 1 AS BIGINT)"

    minutes = (900 + int(seed) * 2654435761 % 200) * DAY_MINUTES
    streets = _list(STREETS)
    towns, districts, counties = (_list([p[k] for p in PLACES]) for k in range(3))
    con.execute(f"""
        CREATE OR REPLACE TEMP VIEW pp_gen AS
        SELECT i,
               {_h(2)} % {minutes} AS minute,
               1 + {_h(10)} % 4 AS place
        FROM range({rows}) t(i)""")
    sql = f"""
        SELECT
          printf('{{%08X-AAAA-BBBB-CCCC-%012X}}', i, {_h(0)} % 281474976710656),
          CAST(10000 + {_h(1)} % 1990000 AS VARCHAR),
          strftime(TIMESTAMP '2023-01-01' + to_minutes(minute), '%Y-%m-%d %H:%M'),
          CASE WHEN {_h(3)} % 100 < 8 THEN ''
               ELSE printf('AB%d %dXY', 1 + {_h(4)} % 99, 1 + {_h(5)} % 9) END,
          ['D', 'S', 'T', 'F', 'O'][1 + {_h(6)} % 5],
          ['Y', 'N'][1 + {_h(7)} % 2],
          ['F', 'L'][1 + {_h(8)} % 2],
          CAST(1 + {_h(9)} % 200 AS VARCHAR),
          CASE WHEN {_h(11)} % 100 < 85 THEN ''
               ELSE 'FLAT ' || CAST(1 + {_h(12)} % 20 AS VARCHAR) END,
          {streets}[1 + CASE WHEN {_h(13)} % 200 = 0 THEN 5 ELSE {_h(14)} % 5 END],
          CASE WHEN {_h(15)} % 3 = 0 THEN '' ELSE {towns}[place] END,
          {towns}[place],
          {districts}[place],
          {counties}[place],
          ['A', 'B'][1 + {_h(16)} % 2],
          ['A', 'C', 'D'][1 + {_h(17)} % 3]
        FROM pp_gen ORDER BY i"""
    con.execute(
        f"COPY ({sql}) TO '{out}' (FORMAT csv, HEADER false, FORCE_QUOTE *)")
    max_minute, n = con.execute(
        "SELECT max(minute), count(*) FROM pp_gen").fetchone()
    max_date = con.execute(
        "SELECT CAST(TIMESTAMP '2023-01-01' + to_minutes($m) AS DATE)",
        {"m": max_minute}).fetchone()[0]
    return {"rows": n, "max_date": max_date.isoformat()}


def cross_check(con, path: str) -> dict:
    """Parse the written file the way a reader of pp-complete would."""
    n, max_date = con.execute(f"""
        SELECT count(*), CAST(max(strptime(column02, '%Y-%m-%d %H:%M')) AS DATE)
        FROM read_csv('{path}', header=false, all_varchar=true, nullstr='\\N',
                      columns={{{", ".join(f"'column{k:02d}': 'VARCHAR'" for k in range(16))}}})
    """).fetchone()
    return {"rows": n, "max_date": max_date.isoformat()}


def connect(tmp_dir: str):
    con = duckdb.connect(config={"threads": 4, "memory_limit": "1GB",
                                 "temp_directory": tmp_dir})
    return con


def main(out: str, rows: int, seed: int) -> int:
    import os
    con = connect(os.path.join(os.path.dirname(os.path.abspath(out)), "duckdb_tmp"))
    expected = generate(con, out, rows, seed)
    parsed = cross_check(con, out)
    print(json.dumps({"expected": expected, "parsed": parsed}))
    return 0 if expected == parsed else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], int(sys.argv[2]), int(sys.argv[3])))
