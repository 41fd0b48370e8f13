package graft.table

/** Typed logical-conflict taxonomy for multi-writer commits (the public
  * Delta concurrency-exception surface; semantics per the Delta Lake VLDB
  * 2020 paper §3.2 — the machinery running beneath the reference's
  * concurrent gunicorn workers, docker-compose.yml:4-13 / api.py:102,107).
  *
  * Every class extends `java.util.ConcurrentModificationException` (as
  * Delta's do) so pre-existing catch sites keep working; the subtype tells
  * the caller WHAT logically conflicted:
  *
  *  - [[ConcurrentAppendException]]       — the winner added files this
  *    transaction's read (predicate or whole-table) should have seen.
  *  - [[ConcurrentDeleteReadException]]   — the winner removed files this
  *    transaction read.
  *  - [[ConcurrentDeleteDeleteException]] — the winner removed files this
  *    transaction also removes.
  *  - [[MetadataChangedException]]        — the winner changed table
  *    metadata (schema / partitioning / properties).
  *  - [[ProtocolChangedException]]        — the winner upgraded the
  *    protocol.
  *  - [[ConcurrentTransactionException]]  — the winner committed for an
  *    idempotent-writer id (`Txn` appId) this transaction also commits
  *    for; the writer re-probes its ledger instead of double-writing.
  *
  * A lost race whose winners trigger NONE of these classifications is not
  * a logical conflict at all: the transaction rebases onto the new head and
  * retries the same actions (disjoint-file DML + appends all land).
  */
class GraftConcurrentWriteException(msg: String)
    extends java.util.ConcurrentModificationException(msg)

final class ConcurrentAppendException(msg: String)
    extends GraftConcurrentWriteException(msg)

final class ConcurrentDeleteReadException(msg: String)
    extends GraftConcurrentWriteException(msg)

final class ConcurrentDeleteDeleteException(msg: String)
    extends GraftConcurrentWriteException(msg)

final class MetadataChangedException(msg: String)
    extends GraftConcurrentWriteException(msg)

final class ProtocolChangedException(msg: String)
    extends GraftConcurrentWriteException(msg)

final class ConcurrentTransactionException(msg: String)
    extends GraftConcurrentWriteException(msg)

/** What a transaction READ — the input to conflict classification after a
  * lost commit race. What it REMOVES is not stated here: the transaction
  * reads it off the attempt's staged removes.
  *
  *  - `readWholeTable`: the txn's result depends on every row (a MERGE
  *    with no source-key pruning, an INSERT OVERWRITE, a RESTORE, a DDL
  *    that validated or reinterprets every live row) — any concurrent
  *    append invalidates it.
  *  - `readPredicate`: file-level predicate scoping the read (a DELETE's
  *    WHERE, a pruned MERGE's source-key range). Appends whose stats may
  *    match it conflict; provably-disjoint appends do not.
  *  - `readFiles`: paths whose CONTENT the txn read (pruned candidates,
  *    rewrite inputs). A winner removing one invalidates what we read.
  *
  * Every GraftTable commit goes through ONE transaction
  * (`GraftTable.transact`): gate the writer features, publish, and on a
  * lost race classify each winner against this read set and the staged
  * removes — rebase when disjoint, throw the typed conflict otherwise —
  * for at most 10 attempts, then throw [[GraftConcurrentWriteException]].
  * DDL commits read the whole table, so a concurrent data commit fails
  * them typed instead of slipping rows past their validation.
  *
  * OPTIMIZE-style reorganizations pass `readWholeTable = false` and no
  * predicate: they reorganize exactly `readFiles`, so appends never
  * conflict with them (Delta's dataChange=false leniency).
  */
private[table] final case class TxnInfo(
    readWholeTable: Boolean,
    readPredicate: Option[org.apache.spark.sql.Column],
    readFiles: Set[String])

private[table] object TxnInfo {
  /** A blind write reads nothing: only a metadata or protocol change, or a
    * commit for the same idempotent-writer id, conflicts with it. */
  val blind: TxnInfo = TxnInfo(readWholeTable = false, None, Set.empty)
}

/** One attempt's commit, staged for the version it lands at: its
  * operation-specific metrics, the live files it removes (the transaction
  * writes their RemoveFiles with the attempt's timestamp, ahead of every
  * other staged action) and the actions that follow them. */
private[table] final case class Staged(metrics: Map[String, String],
    removes: Seq[AddFile], actions: Seq[Action])
