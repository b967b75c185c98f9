package graft.mart

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit, when}

/** Per-asset mart configuration — the deltas among the reference's six
  * per-asset `*_ind_day` clones, which are otherwise the same template:
  *
  *   - `volumeCol`: the source column projected as `volume`. Crypto
  *     reads `amount as volume` while forex/gold/oil/gas/stock read a
  *     `volume` column directly (reference
  *     airflow/etl_scripts/pyspark/D_Create_crypto_ind_day_001.py:31 vs
  *     D_Create_forex_rate_ind_day_001.py:30).
  *   - `exceptionalIds` / `nMultiple`: only crypto has the small-value
  *     scaling path (`exceptional_symbol = ["SHIB_USDT"]`,
  *     D_Create_crypto_ind_day_001.py:46-49 → ×1000); every other asset
  *     class runs with `N_multiple = 1.0` for all symbols. The rule
  *     lives in [[nMultipleCol]] and nowhere else. Only
  *     [[IndicatorDay.indicators]] takes a config; the state snapshot,
  *     the incremental refresh and the extension families ([[Trend]],
  *     [[Flow]], [[Channels]], [[BandChannels]], [[Trix]]) scale by
  *     [[MartConfig.crypto]].
  *   - `market`: the asset-class tag (doubles as the target-table role;
  *     each clone writes its own `<asset>_indicator_day`).
  *
  * One [[IndicatorDay]] engine + six of these replaces the reference's
  * six ~200-line near-identical scripts.
  */
final case class MartConfig(
    market: String,
    volumeCol: String,
    exceptionalIds: Seq[Long] = Nil,
    nMultiple: Double = 1000.0) {

  /** The `n_multiple` price multiplier of each row: `nMultiple` for the
    * `exceptionalIds` symbols, 1 for every other. */
  def nMultipleCol: Column =
    if (exceptionalIds.isEmpty) lit(1.0)
    else when(col("id").isin(exceptionalIds: _*), lit(nMultiple))
      .otherwise(lit(1.0))

  /** `bars` plus the scaled prices `hs`, `ls`, `cs` (high, low and
    * close × [[nMultipleCol]]) and the scaled typical price `tp`
    * (their mean). `tp` restates the products instead of reading
    * `hs`/`ls`/`cs`, so the four projections collapse into one. */
  def scaledPrices(bars: DataFrame): DataFrame = {
    val nm = nMultipleCol
    bars
      .withColumn("hs", col("high") * nm)
      .withColumn("ls", col("low") * nm)
      .withColumn("cs", col("close") * nm)
      .withColumn("tp", (col("high") * nm + col("low") * nm +
        col("close") * nm) / lit(3.0))
  }
}

object MartConfig {
  /** The crypto mart mapping (amount-as-volume + SHIB-style scaling):
    * symbol 7 plays the reference's `exceptional_symbol = ["SHIB_USDT"]`
    * (D_Create_crypto_ind_day_001.py:46-49) and takes the ×1000 path. */
  val crypto: MartConfig =
    MartConfig("crypto", volumeCol = "amount", exceptionalIds = Seq(7L))

  /** The forex mart mapping (direct volume column, no scaling path). */
  val forex: MartConfig = MartConfig("forex", volumeCol = "volume")

  /** The four remaining asset classes are config-identical to forex
    * apart from the market tag — the reference's
    * `D_Create_{gold,crude_oil,natural_gas,stock_index}_*_001.py`
    * clones are the forex template with a different source/target
    * table, which here collapses to one field.
    */
  val gold: MartConfig = MartConfig("gold", volumeCol = "volume")
  val crudeOil: MartConfig = MartConfig("crude_oil", volumeCol = "volume")
  val naturalGas: MartConfig = MartConfig("natural_gas", volumeCol = "volume")
  val stockIndex: MartConfig = MartConfig("stock_index", volumeCol = "volume")

  /** All six reference asset classes — the full clone matrix. */
  val all: Seq[MartConfig] =
    Seq(crypto, forex, gold, crudeOil, naturalGas, stockIndex)
}
