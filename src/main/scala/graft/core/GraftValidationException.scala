package graft.core

/** Engine configuration/validation failure — deterministic by construction:
  * re-running the sync cannot change the outcome, so the retry loop
  * ([[graft.streaming.CdcStream.runWithRetriesOutcome]]) treats ONLY this type (plus
  * engine-raised `IllegalArgumentException`s, detected by origin) as
  * permanently non-retryable. It mirrors the reference's non-gRPC error
  * branch (`planetscale_edge_database.go:278-281`): propagate immediately,
  * never burn retry budget.
  *
  * Extends IllegalArgumentException so callers already catching IAE (tests,
  * CLI) keep working unchanged.
  */
final class GraftValidationException(msg: String) extends IllegalArgumentException(msg)
