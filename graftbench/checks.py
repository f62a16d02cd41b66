"""Per-op correctness checks in DuckDB.

Every check reduces a result to ``(row count, order-insensitive value
hash)``: the sum of per-row hashes as a 128-bit integer, so row order
does not matter and duplicate rows still count. Expected values come
from the generator's ground truth or the engine's registered DuckDB
oracle, computed once per seed and cached.
"""

from __future__ import annotations

import duckdb

# PACKET_SCHEMA columns cast to one type each on both sides, since
# DuckDB's hash depends on the type as well as the value
_PACKET_KEY = (
    "src_ip::VARCHAR, dst_ip::VARCHAR, len::BIGINT, protocol::VARCHAR, "
    "src_port::INTEGER, dst_port::INTEGER, mm_ts::BIGINT, mm_id::INTEGER, mm_port::INTEGER"
)


def _dotted(col: str) -> str:
    return (
        f"CASE WHEN {col} IS NOT NULL THEN "
        + " || '.' || ".join(f"(({col} >> {s}) & 255)::VARCHAR" for s in (24, 16, 8, 0))
        + " END"
    )


def truth_packets_sql(truth_path: str) -> str:
    """The generator's numeric ground truth as the engine's packet table."""
    return f"""
        SELECT {_dotted('src_u32')} AS src_ip, {_dotted('dst_u32')} AS dst_ip, len,
               CASE proto WHEN 1 THEN 'ICMP' WHEN 2 THEN 'IGMP'
                          WHEN 6 THEN 'TCP' WHEN 17 THEN 'UDP' END AS protocol,
               src_port, dst_port, mm_ts, mm_id, mm_port
        FROM read_parquet('{truth_path}')"""


_FLOW_KEY = (
    "src_ip::VARCHAR, dst_ip::VARCHAR, protocol::VARCHAR, src_port::INTEGER, "
    "dst_port::INTEGER, n_packets::BIGINT, n_bytes::BIGINT"
)
# io_byte_ratio is out/in rounded half-up to 4 places (the engine rounds
# the exact decimal quotient; DuckDB's ROUND on a double would round the
# tie 502/1600 = 0.31375 down). Compared as a whole number of 1e-4 units.
_CENSUS_KEY = (
    "endpoint_ip::VARCHAR, out_packets::BIGINT, out_bytes::BIGINT, in_packets::BIGINT, "
    "in_bytes::BIGINT, n_peers::BIGINT, n_flows::BIGINT, "
    "CAST(round(io_byte_ratio * 10000) AS BIGINT)"
)
_LABEL_KEY = "doc_id::BIGINT, cluster_id::BIGINT"

SCAN_FILTER = "protocol = 'TCP' AND dst_port = 443"


def flows_sql(packets_sql: str) -> str:
    return f"""
        SELECT src_ip, dst_ip, protocol, src_port, dst_port,
               COUNT(*) AS n_packets, SUM(len) AS n_bytes
        FROM ({packets_sql}) WHERE {SCAN_FILTER}
        GROUP BY src_ip, dst_ip, protocol, src_port, dst_port"""


def census_sql(flows: str) -> str:
    return f"""
        WITH roles AS (
            SELECT src_ip AS endpoint_ip, dst_ip AS peer_ip, n_packets, n_bytes, 1 AS is_out
            FROM ({flows})
            UNION ALL
            SELECT dst_ip, src_ip, n_packets, n_bytes, 0 FROM ({flows})
        )
        SELECT endpoint_ip,
               COALESCE(SUM(CASE WHEN is_out = 1 THEN n_packets END), 0) AS out_packets,
               COALESCE(SUM(CASE WHEN is_out = 1 THEN n_bytes END), 0) AS out_bytes,
               COALESCE(SUM(CASE WHEN is_out = 0 THEN n_packets END), 0) AS in_packets,
               COALESCE(SUM(CASE WHEN is_out = 0 THEN n_bytes END), 0) AS in_bytes,
               COUNT(DISTINCT peer_ip) AS n_peers,
               COUNT(*) AS n_flows,
               -- out/in rounded half-up to 4 places in exact integer arithmetic
               CASE WHEN COALESCE(SUM(CASE WHEN is_out = 0 THEN n_bytes END), 0) > 0
                    THEN ((20000 * COALESCE(SUM(CASE WHEN is_out = 1 THEN n_bytes END), 0)
                           + SUM(CASE WHEN is_out = 0 THEN n_bytes END))
                          // (2 * SUM(CASE WHEN is_out = 0 THEN n_bytes END))) / 10000.0
               END AS io_byte_ratio
        FROM roles GROUP BY endpoint_ip"""


class Checker:
    """One DuckDB connection, limited to a corner of the machine."""

    def __init__(self, temp_dir: str) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET threads = 2")
        self.con.execute(f"SET temp_directory = '{temp_dir}'")

    def digest(self, sql: str, key: str) -> list[int]:
        """[row count, sum of row hashes] of a query's result."""
        n, h = self.con.execute(
            f"SELECT COUNT(*), COALESCE(SUM(hash({key})::HUGEINT), 0) FROM ({sql})"
        ).fetchone()
        return [int(n), int(h)]

    def table_digest(self, table, key: str) -> list[int]:  # type: ignore[no-untyped-def]
        self.con.register("_result", table)
        try:
            return self.digest("SELECT * FROM _result", key)
        finally:
            self.con.unregister("_result")

    # expected digests, one per workload ------------------------------------

    def expect_packets(self, truth_path: str) -> dict:
        return {"packets": self.digest(truth_packets_sql(truth_path), _PACKET_KEY)}

    def expect_scan(self, truth_path: str) -> dict:
        flows = flows_sql(truth_packets_sql(truth_path))
        return {
            "flows": self.digest(flows, _FLOW_KEY),
            "census": self.digest(census_sql(flows), _CENSUS_KEY),
        }

    def expect_labels(self, documents_path: str, oracle_sql: str) -> dict:
        self.con.execute(
            f"CREATE OR REPLACE VIEW documents AS SELECT * FROM read_parquet('{documents_path}')"
        )
        return {"labels": self.digest(oracle_sql, _LABEL_KEY)}

    # observed digests of one op's output -----------------------------------

    def packets(self, out_dir: str) -> dict:
        return {"packets": self.digest(f"SELECT * FROM read_parquet('{out_dir}/*.parquet')", _PACKET_KEY)}

    def scan(self, result: dict) -> dict:
        return {
            "flows": self.table_digest(result["flows"], _FLOW_KEY),
            "census": self.table_digest(result["census"], _CENSUS_KEY),
        }

    def labels(self, result) -> dict:  # type: ignore[no-untyped-def]
        return {"labels": self.table_digest(result, _LABEL_KEY)}
