package graft.transforms

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The reference's audit-timestamp triple (`created_at` / `updated_at` /
  * `disabled_at`), `src/utils.py:276-441`.
  *
  * Timezone note: the reference localizes naive Oracle timestamps as
  * Europe/Rome with `ambiguous="earliest"` then strips tz
  * (`src/utils.py:300-306`). Here the same normalization is
  * `to_utc_timestamp(c, "Europe/Rome")` under a UTC session; Spark resolves
  * the ambiguous DST hour to the EARLIER offset (summer, +02:00), which
  * matches `ambiguous="earliest"` — pinned by `AuditSpec`.
  */
object Audit {

  /** Localize a naive Europe/Rome timestamp to UTC wall-clock.
    * Reference: `src/utils.py:300-306`. */
  def romeToUtc(c: Column): Column = to_utc_timestamp(c, "Europe/Rome")

  /** created_at: creation, falling back to a load-time default.
    * Reference: `src/utils.py:276-306` (fallback `datetime.now` — callers
    * here pass an explicit deterministic default instead). */
  def handleCreatedAt(creation: Column, default: Column): Column =
    coalesce(creation, default)

  /** updated_at: last_mod → creation → default chain.
    * Reference: `src/utils.py:341-343`. */
  def handleUpdatedAt(lastMod: Column, creation: Column, default: Column): Column =
    coalesce(lastMod, creation, default)

  /** disabled_at: when the flag column equals the disabled value, the best
    * known modification time; else null. Reference: `src/utils.py:388-398`
    * (flag/value parameterized, e.g. `STATO == "CESTINATA"`,
    * `src/auac.py:228`). */
  def handleDisabledAt(flag: Column, disabledValue: String, lastMod: Column, creation: Column): Column =
    when(flag === lit(disabledValue), coalesce(lastMod, creation))

  /** The full triple as named columns, the shape ~every reference pipeline
    * appends (`src/utils.py:401-441`). */
  def handleTimestamps(
      creation: Column,
      lastMod: Column,
      flag: Column,
      disabledValue: String,
      default: Column): Seq[Column] = Seq(
    handleCreatedAt(creation, default).as("created_at"),
    handleUpdatedAt(lastMod, creation, default).as("updated_at"),
    handleDisabledAt(flag, disabledValue, lastMod, creation).as("disabled_at"))

  /** The triple every Oracle-sourced migration pipeline appends: Rome-local
    * `CREATION`/`LAST_MOD` to UTC, disabled when `DISABLED == 'S'`
    * (case/space dirty), `loadTime` the fallback. Reference:
    * `src/utils.py:388-398`. */
  def columns(loadTime: Column): Seq[Column] =
    handleTimestamps(
      romeToUtc(col("CREATION")),
      romeToUtc(col("LAST_MOD")),
      Text.lower(trim(col("DISABLED"))), "s",
      loadTime)
}
