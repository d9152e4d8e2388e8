package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Key / arithmetic helpers mirroring the reference's dbt_utils macros.
  *
  * `surrogateKey` re-expresses dbt_utils.generate_surrogate_key (see
  * reference dbt_spotify/models/staging/stg_recent_tracks.sql:1-18):
  * md5 over `-`-joined, null-coalesced string casts. We keep the same
  * shape (sentinel for NULL so `(null,"a")` != `("a",null)`) with our
  * own sentinel. All codegen'd built-ins — no UDFs.
  */
object Keys {
  val NullSentinel = "_graft_null_"

  /** md5 surrogate key over any columns; null-safe and order-sensitive. */
  def surrogateKey(cols: Column*): Column =
    md5(concat_ws("-", cols.map(c => coalesce(c.cast("string"), lit(NullSentinel))): _*))

  /** dbt_utils.safe_divide parity: NULL instead of divide-by-zero
    * (reference models/marts/reports/rpt_discovery_rate.sql:47-54). */
  def safeDivide(num: Column, den: Column): Column =
    when(den === 0 || den.isNull, lit(null)).otherwise(num / den)

  /** Timestamp → canonical key material: epoch microseconds. Doubles
    * and raw timestamp→string casts are banned from key material
    * (formatting differs across engines); int64 micros are exact. */
  def tsKey(ts: Column): Column = unix_micros(ts).cast("string")

  /** The content-independent id bucket every split, sample and
    * snapshot cut reads: the first 7 hex digits of md5(id as string)
    * as a long, mod `n` — the oracles spell it
    * `('0x' || substr(md5(id::varchar), 1, 7))::bigint % n`. */
  def idBucket(id: Column, n: Int): Column =
    conv(substring(md5(id.cast("string")), 1, 7), 16, 10).cast("long") % n

  /** Order-free membership checksum of a set of ids: bit_xor of the
    * first 15 hex digits (60 bits) of md5(id as string) — equal sets
    * give equal checksums under any partitioning. */
  def idChecksum(id: Column): Column =
    bit_xor(conv(substring(md5(id.cast("string")), 1, 15), 16, 10).cast("bigint"))
}
