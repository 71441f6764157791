"""Ground truth for ``sparkify_etl``: facts about the five star-schema tables,
computed by DuckDB straight from the raw JSON feed, and the same facts read
back from the lake Spark wrote. The two dicts must be equal."""

from __future__ import annotations

import os

import duckdb

_LOG_COLUMNS = {
    "page": "VARCHAR", "song": "VARCHAR", "ts": "BIGINT", "userId": "VARCHAR",
}
_SONG_COLUMNS = {
    "artist_id": "VARCHAR", "artist_latitude": "DOUBLE", "artist_longitude": "DOUBLE",
    "artist_location": "VARCHAR", "artist_name": "VARCHAR", "song_id": "VARCHAR",
    "title": "VARCHAR", "duration": "DOUBLE", "year": "INTEGER",
}


def _facts(con: duckdb.DuckDBPyConnection) -> dict:
    """Facts over views ``songs``, ``artists``, ``users``, ``songplays`` and
    ``time``, plus ``song_partitions``: the (year, artist_id) pairs. Key sets
    are sorted lists; for songplays, multisets of ``ts`` and of matched
    ``song_id``."""
    one = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731
    keys = lambda sql: sorted(r[0] for r in con.execute(sql).fetchall())  # noqa: E731
    return {
        "songs.rows": one("SELECT count(*) FROM songs"),
        "songs.keys": keys("SELECT DISTINCT song_id FROM songs"),
        "songs.partitions": one("SELECT count(*) FROM song_partitions"),
        "artists.rows": one("SELECT count(*) FROM artists"),
        "artists.keys": keys("SELECT DISTINCT artist_id FROM artists"),
        "artists.null_coordinates": one(
            "SELECT count(*) FROM artists WHERE artist_latitude IS NULL AND artist_longitude IS NULL"),
        "users.rows": one("SELECT count(*) FROM users"),
        "users.keys": keys("SELECT DISTINCT userId FROM users"),
        "users.empty_string_user": one("SELECT count(*) FROM users WHERE userId = ''"),
        "songplays.rows": one("SELECT count(*) FROM songplays"),
        "songplays.ts": keys("SELECT ts FROM songplays"),
        "songplays.matched_song_ids": keys("SELECT song_id FROM songplays WHERE song_id IS NOT NULL"),
        "time.rows": one("SELECT count(*) FROM time"),
        "time.keys": keys("SELECT epoch_ms(start_time) FROM time"),
    }


def truth_facts(feed_dir: str) -> dict:
    con = duckdb.connect()
    logs = os.path.join(feed_dir, "log_data", "**", "*.json")
    songs = os.path.join(feed_dir, "song_data", "**", "*.json")
    con.execute(f"CREATE VIEW logs AS SELECT * FROM read_ndjson('{logs}', columns={_LOG_COLUMNS})")
    con.execute(f"CREATE VIEW raw_songs AS SELECT * FROM read_ndjson('{songs}', columns={_SONG_COLUMNS})")
    con.execute("""CREATE VIEW songs AS
        SELECT DISTINCT song_id, title, artist_id, year, duration FROM raw_songs""")
    con.execute("""CREATE VIEW song_partitions AS SELECT DISTINCT year, artist_id FROM songs""")
    con.execute("""CREATE VIEW artists AS
        SELECT DISTINCT artist_id, artist_name, artist_location, artist_latitude, artist_longitude
        FROM raw_songs""")
    con.execute("CREATE VIEW users AS SELECT DISTINCT userId FROM logs")
    con.execute("""CREATE VIEW songplays AS
        SELECT l.ts, s.song_id FROM logs l LEFT JOIN songs s ON s.title = l.song
        WHERE l.page = 'NextSong'""")
    con.execute("CREATE VIEW time AS SELECT DISTINCT make_timestamp(ts * 1000) AS start_time FROM logs")
    try:
        return _facts(con)
    finally:
        con.close()


def lake_facts(lake_dir: str) -> dict:
    con = duckdb.connect()
    for table in ("songs", "artists", "users", "songplays", "time"):
        files = os.path.join(lake_dir, table, "**", "*.parquet")
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{files}', hive_partitioning = true)")
    parts = [
        (year, artist)
        for year in os.listdir(os.path.join(lake_dir, "songs")) if year.startswith("year=")
        for artist in os.listdir(os.path.join(lake_dir, "songs", year)) if artist.startswith("artist_id=")
    ]
    con.execute("CREATE TABLE song_partitions (year VARCHAR, artist_id VARCHAR)")
    if parts:
        con.executemany("INSERT INTO song_partitions VALUES (?, ?)", parts)
    try:
        return _facts(con)
    finally:
        con.close()
