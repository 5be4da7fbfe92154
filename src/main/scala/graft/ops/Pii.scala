package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** PII detection and redaction for training-data pipelines — the filter
  * pass that keeps emails, phone numbers, IP addresses, and long id
  * numbers out of a corpus (and out of a trained model).
  *
  * Everything is a COMPOSITION OF BUILT-INS (regexp_count /
  * regexp_replace — codegen'd, "functions, not UDFs"), and every regex
  * is written to run IDENTICALLY under Java regex (Spark) and RE2
  * (DuckDB): no lookarounds (RE2 has none), no unicode classes (`\d`
  * is ASCII in both defaults), explicit `[A-Za-z]` ranges, `\b` (ASCII
  * word boundary in both). That is what lets the whole contract be
  * hash-gated by the q_pii oracle.
  *
  * Scope (documented): surface-shape detectors. Real pipelines add
  * checksum validation (Luhn for card numbers) and NER for names;
  * those need per-candidate state a regex pass can't express — this is
  * the scalable first pass that bounds what reaches them.
  */
object Pii {

  /** name@domain.tld — local part per RFC-ish character class. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Dotted-quad IPv4 (syntactic: each octet 1-3 digits). */
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** IPv6 with >= 5 hex groups — the length floor keeps clock times
    * (12:30) and ratios out; compressed `::` forms are matched only
    * when they still carry 5 groups (documented heuristic). */
  val Ipv6Re = "(?:[0-9A-Fa-f]{1,4}:){4,7}[0-9A-Fa-f]{1,4}"

  /** E.164-ish international phone: +country and 7-15 digits. */
  val PhoneRe = "\\+\\d{7,15}"

  /** Long digit run (>= 9): account / id / card-number shapes. Counted
    * independently of phones — a phone's digit tail also matches here;
    * redaction order (phones first) keeps the replacement unambiguous. */
  val IdNumRe = "\\d{9,}"

  /** Per-category match counts over the RAW text (each detector runs
    * on the original string, independent of the others). */
  def emailCount(text: Column): Column = regexp_count(text, lit(EmailRe))
  def ipv4Count(text: Column): Column = regexp_count(text, lit(Ipv4Re))
  def ipv6Count(text: Column): Column = regexp_count(text, lit(Ipv6Re))
  def phoneCount(text: Column): Column = regexp_count(text, lit(PhoneRe))
  def idNumCount(text: Column): Column = regexp_count(text, lit(IdNumRe))

  /** Redacted text: every detected span replaced by a typed
    * placeholder. ORDER MATTERS and is part of the contract (the
    * oracle replays it verbatim): emails first (their digits must not
    * be eaten by the number pass), then IPv6 before IPv4 (hex groups
    * contain no dots, but a 4-group tail could alias), then IPv4
    * (dotted quads would otherwise be consumed octet-wise by the digit
    * pass), then phones, then remaining long digit runs. */
  def redact(text: Column): Column = {
    val e = regexp_replace(text, EmailRe, "<EMAIL>")
    val v6 = regexp_replace(e, Ipv6Re, "<IP>")
    val v4 = regexp_replace(v6, Ipv4Re, "<IP>")
    val ph = regexp_replace(v4, PhoneRe, "<PHONE>")
    regexp_replace(ph, IdNumRe, "<NUM>")
  }
}
