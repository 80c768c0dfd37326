package netbench

/** Constants of the seeded traffic `inputs.py` writes (see there). */
object Traffic {
  /** agents run on node-1 .. node-19 */
  val Agents = 19
  val DumpSeconds = 5
  /** 2026-01-01T00:00:00Z: dump 0 of every corpus. */
  val EpochSeconds = 1767225600L
  val eventSchema = "event_id BIGINT, user_id BIGINT, ts TIMESTAMP"
}
