"""Shared SQL fragments for the DuckDB correctness oracles.

The driver registers the parquet tables as DuckDB views named
``region nation customer supplier part orders lineitem events
documents embeddings``. These fragments are mirrored by loaders in
``io.py`` — any change must land on both sides. The determinant
generators build expressions that Spark's ``F.expr`` and the oracles
read verbatim, so both engines evaluate the same op shape and order.
"""

# LOB-shaped view over events — mirror of io.lob_events
EVENTS_LOB_SQL = """
SELECT event_id, ts, user_id, event_type, value,
       CASE WHEN event_id % 2 = 0 THEN 1 ELSE -1 END AS direction,
       value AS size
FROM events
"""

US_PER_DAY = 86_400 * 1_000_000


def det3(m: list[list[str]]) -> str:
    """Cofactor expansion of a 3x3 matrix of SQL expressions."""
    return (
        f"({m[0][0]} * ({m[1][1]} * {m[2][2]} - {m[1][2]} * {m[2][1]})"
        f" - {m[0][1]} * ({m[1][0]} * {m[2][2]} - {m[1][2]} * {m[2][0]})"
        f" + {m[0][2]} * ({m[1][0]} * {m[2][1]} - {m[1][1]} * {m[2][0]}))"
    )


def det4(m: list[list[str]]) -> str:
    """First-row cofactor expansion of a 4x4 matrix of SQL expressions."""
    minors = [
        det3([[m[r][c] for c in range(4) if c != j] for r in range(1, 4)])
        for j in range(4)
    ]
    return (
        f"({m[0][0]} * {minors[0]} - {m[0][1]} * {minors[1]}"
        f" + {m[0][2]} * {minors[2]} - {m[0][3]} * {minors[3]})"
    )
