"""Output checks for the conversions, run in DuckDB after the timed runs.

`check_releases` compares each converted releases directory with the
aggregates the generator computed from the dump it wrote. Query results
are checked by the repository's `tools/check_oracle.py`.
"""
import json
import os

import duckdb

RELEASE_AGGREGATES = """
SELECT count(*) AS rows,
       sum(id) AS id_sum,
       count(*) FILTER (WHERE master_id IS NULL) AS null_master,
       sum(len(artists)) AS artists,
       sum(len(labels)) AS labels,
       sum(len(genres)) AS genres,
       sum(len(styles)) AS styles,
       md5(string_agg(title, chr(10) ORDER BY id)) AS title_md5
FROM read_parquet('{path}/*.parquet')
"""


def check_releases(out_dir, expected):
    """Return {output dir name: failure text} for every converted
    output under `out_dir` whose aggregates differ from `expected`,
    plus the parquet bytes of each output."""
    con = duckdb.connect()
    failures, sizes = {}, {}
    for name in sorted(os.listdir(out_dir)):
        path = os.path.join(out_dir, name)
        sizes[name] = sum(os.path.getsize(os.path.join(path, f))
                          for f in os.listdir(path) if f.endswith(".parquet"))
        try:
            cur = con.execute(RELEASE_AGGREGATES.format(path=path))
            cols = [d[0] for d in cur.description]
            got = dict(zip(cols, cur.fetchone()))
        except Exception as e:  # noqa: BLE001 - reported, not raised
            failures[name] = f"{type(e).__name__}: {e}"[:300]
            continue
        bad = {k: (v, got.get(k)) for k, v in expected.items()
               if (int(got[k]) if k != "title_md5" and got.get(k) is not None
                   else got.get(k)) != v}
        if bad:
            failures[name] = "expected/got " + json.dumps(bad, default=str)[:280]
    con.close()
    return failures, sizes
