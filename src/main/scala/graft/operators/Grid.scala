package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Grid / rfield spatial block (SURVEY.md §2 B).
  *
  * The reference flattens WRF precipitation grids into rfield text files
  * — `(lon, lat, value)` rows sorted by (lon, lat) — cuts bounding-box
  * sub-regions, and maps observation stations to their nearest d03 grid
  * point (MDPA). The test tables carry no geo columns, so `deriveGrid`
  * assigns each `events.user_id` a deterministic d03-like grid cell
  * (10×15 lattice at 0.25° spacing over Sri Lanka's extent); every grid
  * operator then runs on that derived grid exactly as it would on a
  * real one.
  *
  * Scale: rfield aggregation is a single hash groupBy on the cell key
  * (map-side partial agg); the bbox cut is a pushdown-able range
  * predicate; nearest-station is a broadcast cross-join (stations are
  * KB-sized — the grid streams, never shuffles).
  */
object Grid {

  /** Deterministic synthetic lat/lon per series key: 10 lat rows ×
    * 15 lon cols at 0.25° starting (6.0N, 79.0E) — the d03 domain
    * shape (`gen_rfields.py:177-186` iterates lat×lon vectors the same
    * way). Exact binary doubles (k*0.25 sums of powers of two), so
    * cross-engine equality is bit-exact.
    */
  def deriveGrid(df: DataFrame, key: String): DataFrame =
    // `div` = exact integral division, truncating toward zero —
    // IDENTICAL to DuckDB's `//` (also truncating: -5 // 10 = 0
    // there), so the mirrors agree on signed keys too; a
    // double-divide-then-cast would lose exactness above 2^53
    df.withColumn("lat", lit(6.0) + (col(key) % 10).cast("double") * lit(0.25))
      .withColumn("lon", lit(79.0) + (expr(s"(`$key` div 10) % 15")).cast("double") * lit(0.25))

  /** B1: rfield flatten — grid → (lon, lat, value) sorted by lon, lat.
    * Reference: `gen_rfields.py:177-186` (np.ascontiguousarray over
    * lon-major traversal, one value per cell).
    */
  def rfieldFlatten(grid: DataFrame, value: String): DataFrame =
    grid.groupBy(col("lon"), col("lat"))
      .agg(round(sum(col(value)), 4).as("value"))
      .orderBy(col("lon"), col("lat"))

  /** B2: bounding-box cut — the Kelani-basin sub-region extraction.
    * Reference: `gen_rfields.py:188-194` (lon/lat min/max extent
    * filter). A plain range predicate: partition-prunable and
    * pushdown-able when the grid is stored partitioned by region.
    */
  def bboxFilter(rfield: DataFrame, lonMin: Double, lonMax: Double,
                 latMin: Double, latMax: Double): DataFrame =
    rfield.filter(
      col("lon") >= lonMin && col("lon") <= lonMax &&
      col("lat") >= latMin && col("lat") <= latMax)

  /** B3: nearest grid point per station (MDPA — minimum distance point
    * association). Reference:
    * `get_obs_to_d03_grid_mappings_for_rainfall`,
    * gen_active_stations_rfields.py:137-151.
    *
    * Stations are the KB-sized dimension and BROADCAST; the grid —
    * the side that grows with resolution — STREAMS through the
    * nested loop, and the per-station argmin is a `min_by` aggregate
    * whose partials collapse map-side, so the exchange carries
    * O(stations × tasks) rows, never the grid. (The earlier spelling
    * broadcast the distinct grid and window-ranked the cross
    * product — both the broadcast and the shuffle grew with the
    * grid.)
    *
    * d2 rounded at 12 dp: optimizers may reassociate the constant
    * parts of the coordinate arithmetic differently per engine (1-ulp
    * jitter); rounding before the argmin keeps value AND rank order
    * engine-portable. The min_by ordering struct (d2, g_lon, g_lat)
    * reproduces the oracle's ORDER BY d2, g_lon, g_lat rank-1 row.
    *
    * Output = EVERY station column (extra attributes — names,
    * elevations — pass through) + (g_lat, g_lon, d2): the argmin runs
    * on the (station_id, s_lat, s_lon) projection, grouped on ALL
    * THREE so two rows sharing a station_id at different coordinates
    * each keep their OWN nearest cell (a registry should key by id,
    * but a dirty one must not get silently-wrong cells), and the
    * join-back is null-safe so a null-id row passes through instead
    * of vanishing in an equi-join. The join-back is a broadcast of an
    * O(stations) aggregate — free next to the grid scan. */
  def nearestGridPoint(stations: DataFrame, grid: DataFrame): DataFrame = {
    val g = grid.select(col("lat").as("g_lat"), col("lon").as("g_lon")).distinct()
    val d2 = (col("s_lat") - col("g_lat")) * (col("s_lat") - col("g_lat")) +
             (col("s_lon") - col("g_lon")) * (col("s_lon") - col("g_lon"))
    val best = g
      .crossJoin(broadcast(stations.select(col("station_id"), col("s_lat"), col("s_lon"))))
      .withColumn("d2", round(d2, 12))
      .groupBy(col("station_id"), col("s_lat"), col("s_lon"))
      .agg(min_by(struct(col("g_lat"), col("g_lon"), col("d2")),
        struct(col("d2"), col("g_lon"), col("g_lat"))).as("best"))
      .select(col("station_id").as("__bid"), col("s_lat").as("__blat"),
        col("s_lon").as("__blon"), col("best.g_lat").as("g_lat"),
        col("best.g_lon").as("g_lon"), col("best.d2").as("d2"))
    stations.join(broadcast(best),
        col("station_id") <=> col("__bid") &&
        col("s_lat") <=> col("__blat") && col("s_lon") <=> col("__blon"))
      .drop("__bid", "__blat", "__blon")
  }

  /** B5: regrid / coarsen — aggregate fine cells into `factor`-degree
    * blocks (0.25° d03 → 0.5° display tiles, or any downstream model
    * resolution). Block key = `floor(coord/factor)·factor`, exact for
    * dyadic factors over dyadic grids, so cross-engine bit-equal; one
    * hash groupBy on the block key with map-side partial aggregation —
    * the same shape as B1 at 1/(factor/spacing)² the output cells.
    */
  def regrid(grid: DataFrame, factor: Double, value: String): DataFrame =
    grid.groupBy(
        (floor(col("lon") / factor) * factor).as("lon_c"),
        (floor(col("lat") / factor) * factor).as("lat_c"))
      .agg(round(sum(col(value)), 4).as("value"))

  /** B4: inverse-distance-weighted interpolation — station values
    * spread onto a target mesh, `idw = Σ wᵢ·vᵢ / Σ wᵢ` with
    * `wᵢ = 1/d²` (the classic continuous upgrade over B3's
    * winner-take-all nearest mapping; this is how a gauge network
    * becomes a rainfall surface).
    *
    * Stations broadcast (gauge networks are KB–MB); the mesh streams
    * through one broadcast join and a groupBy on the cell key with
    * map-side partial aggregation — exchange volume O(cells), never
    * O(cells × stations). Cross-engine exactness: each term is
    * rounded at 12 dp (no double can sit exactly on a .5×10⁻¹²
    * boundary — 10⁻¹² is not dyadic) and summed as DECIMAL, so the
    * per-cell sums are order-independent; one double division + 6 dp
    * round at the end. The d² floor keeps a station sitting exactly
    * on a mesh point from producing an infinite weight — it then
    * simply dominates the cell, which is the right limit behavior.
    */
  def idw(mesh: DataFrame, stations: DataFrame): DataFrame = {
    val d2 = (col("lat") - col("s_lat")) * (col("lat") - col("s_lat")) +
             (col("lon") - col("s_lon")) * (col("lon") - col("s_lon"))
    val w = lit(1.0) / greatest(d2, lit(1e-9))
    // a station with a NULL value must leave BOTH sums: its numerator
    // term would null out while its weight stayed in the denominator,
    // dragging every nearby cell toward zero (oracle mirrors the
    // filter)
    mesh.crossJoin(broadcast(stations.filter(col("s_val").isNotNull)))
      // decimal(38,12): the worst case |w·s_val| is the 1e9 weight cap
      // times a 1e9-magnitude value = 1e18, which OVERFLOWS decimal
      // (30,12)'s 1e18 range — Spark's non-ANSI cast would return
      // NULL, silently dropping the dominant station's numerator while
      // its weight stayed in the denominator (the same asymmetry the
      // null-value filter above exists to prevent)
      .withColumn("wv", round(w * col("s_val"), 12).cast("decimal(38,12)"))
      .withColumn("w", round(w, 12).cast("decimal(38,12)"))
      .groupBy(col("lon"), col("lat"))
      .agg(round(sum(col("wv")).cast("double") / sum(col("w")).cast("double"), 6)
        .as("idw_value"))
  }
}
