"""Expected answers for every served request, computed with DuckDB over
the same Parquet files the program reads.

The SQL reuses the shapes of the catalog's own DuckDB twins (the
``_agg_oracle`` aggregate, ``sub_agg_domain_to_senders``,
``list_messages_by_domain``, ``search_fast_operators``, ``search_page2``,
``hydrate_search_hits`` and ``total_stats`` entries) with the request's
parameters substituted, over the archive mapping in
``msgvault_spark.sources.adapter.oracle``. Each route's ordering is total
(every sort ends on a unique key), so rows are compared in order.
"""

from __future__ import annotations

import datetime
import json

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

_ATT_PREAGG = (
    "SELECT message_id, CAST(SUM(size) AS BIGINT) AS attachment_size, "
    "COUNT(*) AS attachment_count FROM attachments GROUP BY message_id"
)
_FROM_JOIN = (
    "JOIN message_recipients mr ON mr.message_id = msg.id "
    "AND mr.recipient_type = 'from' "
    "JOIN participants p ON p.id = mr.participant_id"
)
_LABEL_JOIN = (
    "JOIN message_labels ml ON ml.message_id = msg.id "
    "JOIN labels lbl ON lbl.id = ml.label_id"
)
# view -> (group key, join, null guard), as in the catalog's agg_* entries
_VIEWS = {
    "senders": ("p.email_address", _FROM_JOIN, "p.email_address IS NOT NULL"),
    "domains": ("p.domain", _FROM_JOIN, "p.domain IS NOT NULL AND p.domain != ''"),
    "labels": ("lbl.name", _LABEL_JOIN, "lbl.name IS NOT NULL"),
    "time": (
        "CAST(msg.year AS VARCHAR) || '-' || LPAD(CAST(msg.month AS VARCHAR), 2, '0')",
        "",
        "msg.sent_at IS NOT NULL",
    ),
}
_AGG_COLUMNS = """
    COUNT(*) AS count,
    CAST(COALESCE(SUM(CAST(msg.size_estimate AS BIGINT)), 0) AS BIGINT) AS total_size,
    CAST(COALESCE(SUM(att.attachment_size), 0) AS BIGINT) AS attachment_size,
    CAST(COALESCE(SUM(att.attachment_count), 0) AS BIGINT) AS attachment_count
"""
_EMAIL_ONLY = (
    "(msg.message_type = 'email' OR msg.message_type IS NULL "
    "OR msg.message_type = '')"
)
_MS_CTE = """
, ms AS (
    SELECT mr.message_id,
           MIN_BY(p.email_address, mr.participant_id) AS ms_email,
           MIN_BY(COALESCE(NULLIF(TRIM(p.display_name), ''),
                           NULLIF(p.phone_number, ''), p.email_address, ''),
                  mr.participant_id) AS ms_name
    FROM message_recipients mr
    JOIN participants p ON p.id = mr.participant_id
    WHERE mr.recipient_type = 'from'
    GROUP BY mr.message_id
)
"""
_SUMMARY_SELECT = """
    msg.id,
    COALESCE(msg.subject, '') AS subject,
    COALESCE(msg.snippet, '') AS snippet,
    COALESCE(ms.ms_email, '') AS from_email,
    COALESCE(ms.ms_name, '') AS from_name,
    msg.sent_at,
    COALESCE(msg.size_estimate, 0) AS size_estimate,
    COALESCE(msg.has_attachments, false) AS has_attachments
"""


def _lit(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _like(term: str) -> str:
    esc = term.replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")
    return _lit(f"%{esc}%") + " ESCAPE '\\'"


def agg_sql(view: str, limit: int) -> str:
    key, join, guard = _VIEWS[view]
    return f"""
, att AS ({_ATT_PREAGG})
, agg AS (
    SELECT {key} AS key, {_AGG_COLUMNS}
    FROM messages msg {join}
    LEFT JOIN att ON att.message_id = msg.id
    WHERE {guard}
    GROUP BY 1
)
SELECT key, count, total_size, attachment_size, attachment_count,
       (SELECT COUNT(*) FROM agg) AS total_unique
FROM agg ORDER BY count DESC, key ASC LIMIT {int(limit)}
"""


def sub_agg_sql(domain: str, limit: int) -> str:
    return f"""
, att AS ({_ATT_PREAGG})
, dom_msgs AS (
    SELECT msg.* FROM messages msg
    WHERE EXISTS (
        SELECT 1 FROM message_recipients mr
        JOIN participants p ON p.id = mr.participant_id
        WHERE mr.message_id = msg.id AND mr.recipient_type = 'from'
          AND p.domain = {_lit(domain)}
    )
)
, agg AS (
    SELECT p.email_address AS key, {_AGG_COLUMNS}
    FROM dom_msgs msg {_FROM_JOIN}
    LEFT JOIN att ON att.message_id = msg.id
    WHERE p.email_address IS NOT NULL
    GROUP BY 1
)
SELECT key, count, total_size, attachment_size, attachment_count,
       (SELECT COUNT(*) FROM agg) AS total_unique
FROM agg ORDER BY count DESC, key ASC LIMIT {int(limit)}
"""


def total_stats_sql() -> str:
    return f"""
, att AS ({_ATT_PREAGG})
, core AS (
    SELECT COUNT(*) AS message_count,
           CAST(COALESCE(SUM(CAST(msg.size_estimate AS BIGINT)), 0) AS BIGINT)
               AS total_size,
           CAST(COALESCE(SUM(att.attachment_count), 0) AS BIGINT) AS attachment_count,
           CAST(COALESCE(SUM(att.attachment_size), 0) AS BIGINT) AS attachment_size,
           COUNT(DISTINCT msg.source_id) AS account_count
    FROM messages msg LEFT JOIN att ON att.message_id = msg.id
)
SELECT core.*, (
    SELECT COUNT(DISTINCT ml.label_id) FROM message_labels ml
    JOIN messages msg ON msg.id = ml.message_id
) AS label_count
FROM core
"""


def _subject_matches(term: str) -> str:
    return f"{_EMAIL_ONLY} AND msg.subject ILIKE {_like(term)}"


def fast_search_sql(term: str, limit: int) -> str:
    return f"""
{_MS_CTE}
SELECT {_SUMMARY_SELECT}
FROM messages msg LEFT JOIN ms ON ms.message_id = msg.id
WHERE {_subject_matches(term)}
ORDER BY msg.sent_at DESC, msg.id DESC LIMIT {int(limit)}
"""


def fts_count_sql(term: str) -> str:
    return f"SELECT COUNT(*) AS total FROM messages msg WHERE {_subject_matches(term)}"


def fts_page_sql(term: str, page: int, page_size: int) -> str:
    return (
        fast_search_sql(term, page_size)
        + f" OFFSET {(int(page) - 1) * int(page_size)}"
    )


def filter_sql(domain: str, limit: int, offset: int) -> str:
    return f"""
, filtered AS (
    SELECT msg.* FROM messages msg
    WHERE EXISTS (
        SELECT 1 FROM message_recipients mr
        JOIN participants p ON p.id = mr.participant_id
        WHERE mr.message_id = msg.id AND mr.recipient_type = 'from'
          AND p.domain = {_lit(domain)}
    )
    ORDER BY msg.sent_at DESC, msg.id DESC
    LIMIT {int(limit)} OFFSET {int(offset)}
),
msg_sender AS (
    SELECT mr.message_id,
           MIN_BY(p.email_address, mr.participant_id) AS from_email,
           MIN_BY(COALESCE(NULLIF(TRIM(mr.display_name), ''),
                           NULLIF(TRIM(p.display_name), ''),
                           NULLIF(p.phone_number, ''), p.email_address, ''),
                  mr.participant_id) AS from_name,
           MIN_BY(COALESCE(p.phone_number, ''), mr.participant_id) AS from_phone
    FROM message_recipients mr
    JOIN participants p ON p.id = mr.participant_id
    WHERE mr.recipient_type = 'from'
      AND mr.message_id IN (SELECT id FROM filtered)
    GROUP BY mr.message_id
),
direct_sender AS (
    SELECT msg.id AS message_id,
           COALESCE(p.email_address, '') AS from_email,
           COALESCE(p.display_name, '') AS from_name,
           COALESCE(p.phone_number, '') AS from_phone
    FROM filtered msg JOIN participants p ON p.id = msg.sender_id
    WHERE msg.sender_id IS NOT NULL
      AND msg.id NOT IN (SELECT message_id FROM msg_sender)
)
SELECT msg.id,
       COALESCE(msg.source_message_id, '') AS source_message_id,
       COALESCE(msg.conversation_id, 0) AS conversation_id,
       COALESCE(c.source_conversation_id, '') AS source_conversation_id,
       COALESCE(msg.subject, '') AS subject,
       COALESCE(msg.snippet, '') AS snippet,
       COALESCE(ms.from_email, ds.from_email, '') AS from_email,
       COALESCE(ms.from_name, ds.from_name, '') AS from_name,
       COALESCE(ms.from_phone, ds.from_phone, '') AS from_phone,
       msg.sent_at,
       COALESCE(msg.size_estimate, 0) AS size_estimate,
       COALESCE(msg.has_attachments, false) AS has_attachments,
       COALESCE(msg.attachment_count, 0) AS attachment_count,
       COALESCE(msg.message_type, '') AS message_type,
       COALESCE(c.title, '') AS conv_title
FROM filtered msg
LEFT JOIN msg_sender ms ON ms.message_id = msg.id
LEFT JOIN direct_sender ds ON ds.message_id = msg.id
LEFT JOIN conversations c ON c.id = msg.conversation_id
ORDER BY msg.sent_at DESC, msg.id DESC
"""


def summaries_sql(ids: list[int]) -> str:
    values = ", ".join(f"({rank}, {int(i)})" for rank, i in enumerate(ids, 1))
    return f"""
{_MS_CTE}
, hits AS (SELECT * FROM (VALUES {values}) t(rank, id))
SELECT h.rank, {_SUMMARY_SELECT}
FROM hits h JOIN messages msg ON msg.id = h.id
LEFT JOIN ms ON ms.message_id = msg.id
ORDER BY h.rank
"""


def _cell(v):
    """A value as the server's JSON encoder writes it (``default=str``)."""
    if isinstance(v, (datetime.datetime, datetime.date)):
        return str(v)
    return v


class Oracle:
    """One DuckDB connection with views over a generated data directory."""

    def __init__(self, data_dir: str):
        from msgvault_spark.sources.adapter import oracle as archive_sql

        self._archive_sql = archive_sql
        self._con = duckdb.connect()
        for t in TABLES:
            self._con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        self._memo: dict[str, object] = {}

    def _rows(self, select_sql: str) -> list[dict]:
        cur = self._con.execute(self._archive_sql(select_sql))
        cols = [d[0] for d in cur.description]
        return [{c: _cell(v) for c, v in zip(cols, row)} for row in cur.fetchall()]

    def expected(self, req: dict):
        """Canonical expected answer for a request (see ``canonical``)."""
        if req["path"] not in self._memo:
            self._memo[req["path"]] = self._compute(req["kind"], req["params"])
        return self._memo[req["path"]]

    def _compute(self, kind: str, p: dict):
        if kind == "agg":
            return self._rows(agg_sql(p["view"], p["limit"]))
        if kind == "sub_agg":
            return self._rows(sub_agg_sql(p["domain"], p["limit"]))
        if kind == "fast_search":
            return self._rows(fast_search_sql(p["term"], p["limit"]))
        if kind == "fts_page":
            total = self._rows(fts_count_sql(p["term"]))[0]["total"]
            rows = self._rows(fts_page_sql(p["term"], p["page"], p["page_size"]))
            return {"total": total, "messages": rows}
        if kind == "filter":
            return self._rows(filter_sql(p["domain"], p["limit"], p["offset"]))
        if kind == "summaries":
            return self._rows(summaries_sql(p["ids"]))
        if kind == "total_stats":
            return self._rows(total_stats_sql())
        raise ValueError(f"unknown request kind {kind!r}")


def canonical(kind: str, body: bytes):
    """A response body in the oracle's shape: a list of row dicts for the
    columnar QueryResult routes, {total, messages} for the fts page."""
    doc = json.loads(body)
    if kind == "fts_page":
        return {"total": doc["total"], "messages": doc["messages"]}
    cols = doc["columns"]
    if doc["row_count"] != len(doc["rows"]):
        raise ValueError("row_count disagrees with rows")
    return [dict(zip(cols, row)) for row in doc["rows"]]


def check(oracle: Oracle, req: dict, body: bytes) -> str | None:
    """None when the response equals the expected answer, else a reason."""
    try:
        got = canonical(req["kind"], body)
    except (ValueError, KeyError, TypeError) as e:
        return f"unparseable response: {e}"
    want = oracle.expected(req)
    if got == want:
        return None
    return f"answer differs from the DuckDB oracle for {req['path']}"
