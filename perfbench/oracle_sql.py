"""The reference's schedule-deviation SQL (schedule_deviation.ipynb,
cell 11) for DuckDB, the flagship's correctness oracle.

The one addition to the reference's text is the final ``diff ASC``
tie-break in the window order, which the engine also applies (an early
and a late ping at the same distance would otherwise tie and either
engine could pick either one).
"""

FLAGSHIP = """
SELECT stop_id, stop_lon, stop_lat,
       COUNT(diff) AS count,
       AVG(diff) AS avg_diff,
       STDDEV(diff) AS stddev_diff
FROM (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY trip_id, stop_id, arrival_time, stop_sequence
      ORDER BY arrival_time ASC, ABS(diff) ASC, diff ASC) AS rn
  FROM (
    SELECT X.trip_id, S.stop_sequence, S.arrival_time,
           DATEDIFF('seconds', S.arrival_time::TIME,
                    strftime(Y.timestamp, '%H:%M:%S')::TIME) AS diff,
           S.stop_id, V.stop_lon, V.stop_lat
    FROM routes T
    JOIN trips X ON T.route_id = X.route_id
    JOIN stop_times S ON X.trip_id = S.trip_id
    JOIN stops V ON S.stop_id = V.stop_id
    JOIN locations Y
      ON X.trip_id = Y.trip_id
     AND sqrt((Y.longitude - V.stop_lon) ** 2 + (Y.latitude - V.stop_lat) ** 2)
         <= 0.0002
    WHERE NOT regexp_matches(S.arrival_time, '^(2[4-9]|3[0-5]):', 'c')
      AND (T.route_type = 700 OR T.route_type = 3)
  ) WHERE diff BETWEEN -600 AND 600
) WHERE rn = 1
GROUP BY stop_id, stop_lon, stop_lat
"""


def flagship_oracle(lake_glob: str, gtfs_dir: str, timezone: str):
    """Run :data:`FLAGSHIP` over the parquet files matching ``lake_glob``
    and the static CSVs in ``gtfs_dir``; returns a pandas DataFrame."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"SET timezone = '{timezone}'")
        for t in ("routes", "trips", "stops", "stop_times"):
            types = ", types={'stop_id': 'VARCHAR'}" if t in ("stops", "stop_times") else ""
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_csv('{gtfs_dir}/{t}.txt'{types})"
            )
        con.execute(
            "CREATE VIEW locations AS SELECT * FROM "
            f"read_parquet('{lake_glob}', hive_partitioning=true)"
        )
        return con.execute(FLAGSHIP).df()
    finally:
        con.close()
