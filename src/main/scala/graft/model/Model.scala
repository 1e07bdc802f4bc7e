package graft.model

import java.sql.Timestamp

/** Input table row — the driver-mandated Common-Crawl-style page shape
  * (BASELINE.json input_hint): (url, warc_ts, html, text, lang).
  */
final case class PageRow(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String)

/** Dual-calendar date, mirroring the reference's DateFormat
  * (/root/reference/src/parser.py:16-18).
  */
final case class JDate(shamsi: String, gregorian: String)

/** Extraction result — the byte-identical invariant row
  * (/root/reference/src/parser.py:62-67 ParsedContent +
  * parser.py:20-24 Metadata, flattened for columnar storage).
  */
final case class Extracted(
    url: String,
    file_id: String,
    question: String,
    answer: String,
    content: String,
    file_number: String,
    opinion_number: String,
    opinion_date_shamsi: String,
    opinion_date_gregorian: String)

/** One frontier row — generalizes the reference's IdeaPageInfo queue
  * element (/root/reference/src/_core/schemas.py:19-24) to URL-keyed
  * frontier entries at web scale.
  */
final case class FrontierEntry(
    url_key: String,
    url: String,
    host: String,
    priority: Double,
    attempt: Int,
    discovered_round: Int)

/** A frontier URL scheduled for fetching this round, with its politeness
  * slot (generalizes the reference's per-worker 1s+jitter pacing,
  * /root/reference/src/handler.py:274,335,362).
  */
final case class ScheduledFetch(
    url_key: String,
    url: String,
    host: String,
    priority: Double,
    attempt: Int,
    discovered_round: Int,
    slot: Int,
    scheduled_delay_ms: Long)

/** Fetch+extract outcome row (status mirrors the reference's
  * success/failed id bookkeeping, /root/reference/src/handler.py:134-141).
  */
final case class FetchResult(
    url_key: String,
    url: String,
    host: String,
    attempt: Int,
    round: Int,
    status: String) // "ok" | "error_page" | "missing"

/** Per-(round, partition) lineage + metrics row (north_rule requirement;
  * reference analog: crawl summary counters,
  * /root/reference/src/handler.py:158-172).
  */
final case class RoundMetrics(
    round: Int,
    partition_id: Int,
    scheduled: Long,
    fetched_ok: Long,
    error_pages: Long,
    missing: Long,
    extracted: Long,
    outlinks: Long)

/** One outlink discovered on a fetched page. */
final case class OutLink(url: String, priority: Double)

/** The single-pass per-page processing result (FrontierRound): status
  * classification, extraction, and outlink discovery are fused into ONE
  * pages-table pass per round; this html-free row is what the round caches
  * and every downstream consumer (results, extracted, frontier, retries,
  * metrics) derives from — no second scan of page bodies.
  */
final case class ProcessedPage(
    url_key: String,
    url: String,
    host: String,
    priority: Double,
    attempt: Int,
    discovered_round: Int,
    // slot/delay carried through from the schedule so the round superset
    // (and the retries) derive from the one processed frame, with no
    // re-join against the schedule
    slot: Int,
    scheduled_delay_ms: Long,
    status: String, // "ok" | "error_page" | "missing"
    extracted: Option[Extracted], // defined iff status == "ok"
    links: Seq[OutLink]) // locally deduped (url, priority) outlinks
