"""S5: the ledger over JDBC — the reference's actual deployment shape
("Connect to RDS_POSTGRESQL using JDBC_URL", /root/reference/sudo_code.txt:74,
table ``file_processing_status`` sudo_code.txt:25-49, claims with ``FOR
UPDATE SKIP LOCKED`` psuedo_code.txt:170-181).

Locally the database is embedded Apache Derby (ships inside Spark's JVM —
no external service), reached two ways:

- **Transactional row ops** (register / claim / status transitions) run as
  real SQL transactions over a ``java.sql`` connection obtained through the
  Spark JVM gateway. SKIP LOCKED portability: Derby lacks the clause, so
  claims use the equivalent optimistic form — SELECT the claimable window,
  then a GUARDED UPDATE (``WHERE s3_key = ? AND <still claimable>``) per
  row; a row a concurrent runner won updates 0 rows and drops out of the
  claim. Same outcome as SKIP LOCKED: no blocking, no double-claim.
- **Analytics** (``read()``/monitoring) go through ``spark.read.jdbc`` — the
  ledger is a DataFrame like any other source; predicate pushdown reaches
  the DB.

Swap ``jdbc_url`` for a PostgreSQL URL (+ driver jar) in production; every
statement below is ANSI-portable except the documented Derby-isms
(``SYSIBM.SYSDUMMY1`` for insert-if-absent, JDBC ``TIMESTAMPADD`` escape for
the lease cutoff).

Run-id fencing and lease reclaim match plans/ledger.py exactly — the
DB-backed and snapshot-backed ledgers are drop-in interchangeable behind
``IngestConfig`` (make_ledger in plans/ingest.py).
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from datalakejson_spark.plans.ledger import (
    LEDGER_SCHEMA,
    PROCESSING_LEASE_S,
    LedgerStatus,
)

_TABLE = "file_processing_status"

_CREATE = f"""
CREATE TABLE {_TABLE} (
    s3_key VARCHAR(1024) NOT NULL PRIMARY KEY,
    file_size_bytes BIGINT,
    status VARCHAR(16) NOT NULL,
    retry_count INT NOT NULL,
    error_message VARCHAR(2048),
    first_discovered_at TIMESTAMP NOT NULL,
    last_updated_at TIMESTAMP NOT NULL,
    run_id VARCHAR(64)
)
"""

# the reference's idx_processing_status (sudo_code.txt:49)
_CREATE_IDX = f"CREATE INDEX idx_processing_status ON {_TABLE} (status)"

_BATCH = 1000  # JDBC executeBatch chunk

DUPLICATE_KEY_SQLSTATE = "23505"  # standard unique-violation (Derby + Postgres)


def _is_postgres(url: str) -> bool:
    return url.startswith("jdbc:postgresql")


def _insert_sql(url: str) -> str:
    """Dialect-aware idempotent insert (sudo_code.txt:90 ON CONFLICT DO
    NOTHING). PostgreSQL gets the native, race-free form; Derby (and any
    other ANSI DB) gets INSERT..WHERE NOT EXISTS, which under READ_COMMITTED
    can still lose a register/register race — register() covers that window
    by catching the duplicate-key violation per row (savepoint + SQLState
    23505), so a concurrent discoverer's win is an idempotent skip, never an
    aborted transaction."""
    if _is_postgres(url):
        return (
            f"INSERT INTO {_TABLE} (s3_key, file_size_bytes, status, "
            "retry_count, first_discovered_at, last_updated_at) "
            "VALUES (?, ?, ?, 0, CURRENT_TIMESTAMP, CURRENT_TIMESTAMP) "
            "ON CONFLICT (s3_key) DO NOTHING"
        )
    return (
        f"INSERT INTO {_TABLE} (s3_key, file_size_bytes, status, "
        "retry_count, first_discovered_at, last_updated_at) "
        "SELECT ?, ?, ?, 0, CURRENT_TIMESTAMP, CURRENT_TIMESTAMP "
        "FROM SYSIBM.SYSDUMMY1 "
        f"WHERE NOT EXISTS (SELECT 1 FROM {_TABLE} WHERE s3_key = ?)"
    )


def _sql_state(exc: Exception) -> str | None:
    """Walk a py4j-wrapped java.sql exception's cause chain for an SQLState.
    executeUpdate failures surface as Py4JJavaError wrapping SQLException
    (sometimes nested under BatchUpdateException or Derby's wrappers)."""
    je = getattr(exc, "java_exception", None)
    while je is not None:
        try:
            state = je.getSQLState()
        except Exception:  # noqa: BLE001 — not an SQLException level
            state = None
        if state:
            return str(state)
        try:
            je = je.getCause()
        except Exception:  # noqa: BLE001
            return None
    return None


class JdbcLedger:
    """Drop-in Ledger alternative backed by a JDBC database (embedded Derby
    locally; any ANSI DB in production). Public surface mirrors
    plans/ledger.py::Ledger — ingest_batch runs unchanged on either."""

    def __init__(self, spark: SparkSession, jdbc_url: str):
        self.spark = spark
        self.url = jdbc_url
        self._ensure_table()

    # -- connection plumbing ------------------------------------------------
    def _connect(self):
        jvm = self.spark._sc._jvm
        conn = jvm.java.sql.DriverManager.getConnection(self.url)
        conn.setAutoCommit(False)
        return conn

    def _ensure_table(self) -> None:
        conn = self._connect()
        try:
            st = conn.createStatement()
            try:
                st.executeUpdate(_CREATE)
                st.executeUpdate(_CREATE_IDX)
                conn.commit()
            except Exception:  # noqa: BLE001 — table exists (X0Y32)
                conn.rollback()
            st.close()
        finally:
            conn.close()

    # -- reference operations ----------------------------------------------
    def register(
        self,
        discovered: DataFrame,
        on_succeeded: Callable[[list[str]], None] | None = None,
    ) -> int:
        """Idempotent PENDING insert — ``ON CONFLICT (s3_key) DO NOTHING``
        (sudo_code.txt:90). PostgreSQL URLs use that exact clause (native,
        race-free) with executeBatch; other dialects (embedded Derby) use
        INSERT..WHERE NOT EXISTS per row under a savepoint, skipping
        duplicate-key violations (SQLState 23505) — two concurrent
        discoverers can both pass the NOT EXISTS read for the same new key
        under READ_COMMITTED, and the loser's PK violation must be an
        idempotent skip, not an aborted batch. The discovered list is
        driver-bounded exactly like the reference's own batched INSERTs
        (psuedo_code.txt:117-131).

        Same contract as ``Ledger.register``: with ``on_succeeded``, the
        listed keys whose row is already SUCCEEDED (completed but still
        listed: the crash-after-commit-before-archive case) are passed to
        it after the insert commits. They come from one distributed semi
        join; only the straggler list (normally empty) is collected."""
        rows = (
            discovered.select("s3_key", "file_size_bytes")
            .dropDuplicates(["s3_key"])
            .collect()
        )
        if not rows:
            return 0
        conn = self._connect()
        try:
            ps = conn.prepareStatement(_insert_sql(self.url))
            n_new = 0
            if _is_postgres(self.url):
                for i, r in enumerate(rows):
                    ps.setString(1, r.s3_key)
                    ps.setLong(2, int(r.file_size_bytes or 0))
                    ps.setString(3, LedgerStatus.PENDING)
                    ps.addBatch()
                    if (i + 1) % _BATCH == 0:
                        n_new += sum(ps.executeBatch())
                n_new += sum(ps.executeBatch())
            else:
                for r in rows:
                    ps.setString(1, r.s3_key)
                    ps.setLong(2, int(r.file_size_bytes or 0))
                    ps.setString(3, LedgerStatus.PENDING)
                    ps.setString(4, r.s3_key)
                    # Savepoint per row: a duplicate-key loss rolls back only
                    # this statement; rows already inserted in the transaction
                    # survive. (Derby's statement-level atomicity would cope
                    # without it, but Postgres-family DBs poison the whole
                    # transaction on any error unless a savepoint exists.)
                    sp = conn.setSavepoint()
                    try:
                        n_new += ps.executeUpdate()
                        conn.releaseSavepoint(sp)
                    except Exception as exc:  # noqa: BLE001 — py4j-wrapped SQL error
                        if _sql_state(exc) == DUPLICATE_KEY_SQLSTATE:
                            conn.rollback(sp)  # lost the race; row exists — skip
                        else:
                            raise
            conn.commit()
            ps.close()
        finally:
            conn.close()
        if on_succeeded is not None:
            stragglers = [
                r[0]
                for r in self.read()
                .filter(F.col("status") == LedgerStatus.SUCCEEDED)
                .join(discovered, "s3_key", "left_semi")
                .select("s3_key")
                .collect()
            ]
            if stragglers:
                on_succeeded(stragglers)
        return n_new

    def claim_batch(
        self,
        batch_size: int,
        run_id: str,
        stale_lease_s: float = PROCESSING_LEASE_S,
    ) -> list[str]:
        """SKIP-LOCKED-equivalent claim: select the claimable window, then
        guarded per-row UPDATEs — a row a concurrent runner already flipped
        fails its guard (0 rows updated) and is skipped, not blocked on.
        Expired PROCESSING leases are claimable again (crash reclaim)."""
        claimable = (
            f"(status IN ('{LedgerStatus.PENDING}', '{LedgerStatus.FAILED}') "
            f"OR (status = '{LedgerStatus.PROCESSING}' AND last_updated_at < "
            "{fn TIMESTAMPADD(SQL_TSI_SECOND, ?, CURRENT_TIMESTAMP)}))"
        )
        conn = self._connect()
        try:
            ps = conn.prepareStatement(
                f"SELECT s3_key FROM {_TABLE} WHERE {claimable} "
                "ORDER BY first_discovered_at, s3_key "
                "FETCH FIRST ? ROWS ONLY"
            )
            ps.setInt(1, -int(stale_lease_s))
            ps.setInt(2, batch_size)
            rs = ps.executeQuery()
            candidates = []
            while rs.next():
                candidates.append(rs.getString(1))
            rs.close()
            ps.close()
            if not candidates:
                conn.commit()
                return []
            upd = conn.prepareStatement(
                f"UPDATE {_TABLE} SET status = '{LedgerStatus.PROCESSING}', "
                "retry_count = retry_count + 1, run_id = ?, "
                "last_updated_at = CURRENT_TIMESTAMP "
                f"WHERE s3_key = ? AND {claimable}"
            )
            claimed = []
            for key in candidates:
                upd.setString(1, run_id)
                upd.setString(2, key)
                upd.setInt(3, -int(stale_lease_s))
                if upd.executeUpdate() == 1:
                    claimed.append(key)
            conn.commit()
            upd.close()
            return claimed
        finally:
            conn.close()

    def set_status(
        self,
        paths: list[str] | DataFrame,
        status: str,
        error_message: str | None = None,
        run_id: str | None = None,
        increment_retry: bool = False,
        fence_run_id: str | None = None,
    ) -> list[str]:
        if isinstance(paths, DataFrame):
            paths = [r[0] for r in paths.collect()]
        return self._transition(
            [(p, status, error_message) for p in paths],
            run_id=run_id,
            fence_run_id=fence_run_id,
            increment_retry=increment_retry,
        )

    def apply_outcomes(
        self,
        outcomes: list[tuple[list[str], str, str | None]],
        run_id: str,
        fence: bool = True,
    ) -> list[str]:
        rows = [(p, status, msg) for paths, status, msg in outcomes for p in paths]
        seen: set[str] = set()
        deduped = []
        for row in rows:
            if row[0] not in seen:
                seen.add(row[0])
                deduped.append(row)
        return self._transition(
            deduped, run_id=run_id, fence_run_id=run_id if fence else None
        )

    def _transition(
        self,
        rows: list[tuple[str, str, str | None]],
        run_id: str | None,
        fence_run_id: str | None,
        increment_retry: bool = False,
    ) -> list[str]:
        """One transaction of guarded per-row UPDATEs. With a fence, the
        guard is ``run_id = ?`` — the reference's transactional ``UPDATE ...
        WHERE id = ?`` inside the claim's transaction; rows lost to a
        reclaimer fail the guard and are returned as lost claims."""
        if not rows:
            return []
        retry = ", retry_count = retry_count + 1" if increment_retry else ""
        run_set = ", run_id = ?" if run_id is not None else ""
        fence_sql = " AND run_id = ?" if fence_run_id is not None else ""
        conn = self._connect()
        try:
            ps = conn.prepareStatement(
                f"UPDATE {_TABLE} SET status = ?, error_message = ?, "
                f"last_updated_at = CURRENT_TIMESTAMP{retry}{run_set} "
                f"WHERE s3_key = ?{fence_sql}"
            )
            fenced = []
            for key, status, msg in rows:
                i = 1
                ps.setString(i, status); i += 1
                ps.setString(i, (msg or "")[:2000] or None); i += 1
                if run_id is not None:
                    ps.setString(i, run_id); i += 1
                ps.setString(i, key); i += 1
                if fence_run_id is not None:
                    ps.setString(i, fence_run_id); i += 1
                if ps.executeUpdate() == 0:
                    fenced.append(key)
            conn.commit()
            ps.close()
            return fenced
        finally:
            conn.close()

    def owned_by(self, paths: list[str], run_id: str) -> set[str]:
        if not paths:
            return set()
        conn = self._connect()
        try:
            ps = conn.prepareStatement(
                f"SELECT s3_key FROM {_TABLE} WHERE s3_key = ? AND run_id = ?"
            )
            owned = set()
            for p in paths:
                ps.setString(1, p)
                ps.setString(2, run_id)
                rs = ps.executeQuery()
                if rs.next():
                    owned.add(p)
                rs.close()
            conn.commit()
            ps.close()
            return owned
        finally:
            conn.close()

    # -- analytics surface (spark.read.jdbc) --------------------------------
    def read(self) -> DataFrame:
        """The ledger as a DataFrame — S5's read path. Derby uppercases
        identifiers; realign to LEDGER_SCHEMA's names so downstream monitor/
        query code is backend-agnostic."""
        df = self.spark.read.format("jdbc").options(
            url=self.url, dbtable=_TABLE
        ).load()
        renames = {f.name.upper(): f.name for f in LEDGER_SCHEMA.fields}
        cols = [F.col(c).alias(renames.get(c, c)) for c in df.columns]
        return df.select(*cols)

    def counts(self) -> dict[str, int]:
        return {
            r["status"]: r["n"]
            for r in self.read().groupBy("status").agg(F.count("*").alias("n")).collect()
        }
