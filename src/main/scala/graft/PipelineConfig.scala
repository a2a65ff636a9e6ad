package graft

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper

/** Run configuration for [[Pipeline]] — the Spark-side mirror of the
  * reference's per-model JSON configs (`config/wrf_config.json`,
  * `wrf_data_pusher.py:358-380`: model, version, sim_tag,
  * `wrf_systems: "A,C,E,SE"`, variable, unit, unit_type, and the
  * netCDF directory layout). One config = one forecast run over all
  * of that model's WRF systems, processed as a single Spark job.
  *
  * @param filePattern per-system netCDF name, `{system}` substituted
  *                    (the reference nests per-system directories —
  *                    `…/output/wrf/{system}/d03_RAINNC.nc`; the flat
  *                    default matches this repo's synthetic runs).
  *                    Every system must read its own file under every
  *                    domain's pattern, so a pattern without `{system}`
  *                    serves a one-system run only.
  * @param waitReadyMs when > 0, gate the run on all inputs being
  *                    complete (header-committed bytes present) for up
  *                    to this long — `is_netcdf_ready.sh` semantics.
  * @param packagedRfields also emit the reference's per-system file
  *                        contract (xy.csv + value-only files + zip,
  *                        `gen_rfields.py:198-219`) next to the
  *                        ensemble-mean rfields: a bundle per (domain,
  *                        system) at `outDir/rfields_packaged/[<domain>/]
  *                        <system>` (+ `.zip`), every bundle of a file
  *                        pattern from one shuffle and one staged write
  *                        (`RfieldSink.writePackaged`).
  * @param landSeries also land the post-diff series table as a
  *                    Z-ORDERED parquet artifact at `outDir/series`
  *                    (`Pipeline.landSeries` — clustered on
  *                    (lat, lon, time) so the standing consumer
  *                    queries, bbox × time-window fetches of the
  *                    gen_rfields/basin-cut shape, prune files on any
  *                    of the three dims). Off by default: the landing
  *                    is an extra write stage, and pipeline_e2e's
  *                    bench number stays comparable round-over-round.
  * @param landSeriesFiles target file count for the landed series
  *                        table (the z-order pruning grain — more
  *                        files = finer pruning, more open() calls).
  * @param domains optional multi-domain run (`gen_rfields.py` emits
  *                d03, a Kelani-basin BBOX CUT of d03, and d01 rfields
  *                per run — `create_d01_rfields` at gen_rfields.py:232,
  *                basin extents at :18-19): each entry names a domain,
  *                gives its per-system file pattern, and optionally a
  *                bbox cut. The FIRST domain is primary — it feeds the
  *                station/series/watermark path (the reference pushes
  *                only d03 series to the DB); the rest emit rfields
  *                only. Empty = single-domain legacy behavior from
  *                `filePattern` (outputs land at `outDir/rfields`
  *                directly, exactly as before).
  */
final case class PipelineConfig(
    ncDir: String,
    outDir: String,
    model: String = "WRF",
    version: String = "4.1.2",
    simTag: String = "evening_18:00",
    systems: Seq[String] = Seq("A", "C"),
    variable: String = "Precipitation",
    unit: String = "mm",
    unitType: String = "Accumulative",
    filePattern: String = "d03_RAINNC_{system}.nc",
    waitReadyMs: Long = 0L,
    packagedRfields: Boolean = false,
    landSeries: Boolean = false,
    landSeriesFiles: Int = 32,
    domains: Seq[DomainConfig] = Seq.empty) {

  require(systems.nonEmpty, "config needs at least one wrf system")
  require(landSeriesFiles > 0,
    s"land_series_files=$landSeriesFiles must be positive")
  require(domains.map(_.name).distinct.size == domains.size,
    s"domain names must be distinct: ${domains.map(_.name)}")
  // a file read by two systems would be counted, meaned and bundled
  // once per system under whichever system matched its path last
  for (d <- runDomains) {
    val files = systems.map(ncPath(d.filePattern, _))
    val shared = files.diff(files.distinct)
    require(shared.isEmpty, s"systems ${systems.mkString(",")} must read distinct " +
      s"files of '${d.filePattern}': ${shared.headOption.orNull} is read by more than one")
  }

  /** reference: `source_name = "{model}_{system}"` (wrf_data_pusher.py:287). */
  def sourceName(system: String): String = s"${model}_$system"

  def ncPath(system: String): String = ncPath(filePattern, system)

  def ncPath(pattern: String, system: String): String =
    s"$ncDir/${pattern.replace("{system}", system)}"

  /** The domain list the run actually processes: configured domains,
    * or the implicit single legacy domain (empty name = outputs at
    * the un-suffixed legacy paths). */
  def runDomains: Seq[DomainConfig] =
    if (domains.nonEmpty) domains
    else Seq(DomainConfig("", filePattern, None))
}

/** One rfield domain of a run: `name` keys the output directory
  * (`outDir/rfields/<name>`), `filePattern` its per-system netCDF
  * name, `bbox` an optional `(lonMin, latMin, lonMax, latMax)` cut
  * (the reference's extent order, gen_rfields.py:18-19) — the Kelani
  * basin is d03's pattern + a bbox, so cut domains re-use the parsed
  * grid instead of re-reading files. */
final case class DomainConfig(
    name: String, filePattern: String,
    bbox: Option[(Double, Double, Double, Double)] = None)

object PipelineConfig {

  /** Parse a reference-shaped JSON config. Accepted keys (all optional
    * except nc_dir/out_dir): model, version, sim_tag, variable, unit,
    * unit_type, file_pattern, and `wrf_systems` as either a JSON array
    * or the reference's comma-joined string ("A,C,E,SE"). Unknown keys
    * (db hosts, ssh keys…) are ignored — they configure the shells
    * around the compute, not the compute. */
  def fromJson(path: String): PipelineConfig = {
    val node = new ObjectMapper().readTree(Files.readAllBytes(Paths.get(path)))
    def str(k: String, default: => String): String =
      if (node.hasNonNull(k)) {
        val n = node.get(k)
        // asText() on a container node returns "" — a nested object
        // under a required key would silently satisfy it with an
        // empty string instead of failing the by-name default
        require(n.isValueNode,
          s"config key '$k' must be a scalar, got ${n.getNodeType}")
        n.asText()
      } else default
    val systems =
      if (node.hasNonNull("wrf_systems")) {
        val n = node.get("wrf_systems")
        if (n.isArray) {
          val it = n.elements()
          val b = Seq.newBuilder[String]
          while (it.hasNext) {
            val e = it.next()
            // same scalar guard as str(): a nested object element
            // asText()s to "" and would silently become a system ""
            require(e.isValueNode,
              s"wrf_systems elements must be scalars, got ${e.getNodeType}")
            b += e.asText()
          }
          // same trim/nonEmpty normalization as the comma-string
          // branch — " A " would otherwise look for "d03_RAINNC_ A .nc"
          b.result().map(_.trim).filter(_.nonEmpty)
        } else n.asText().split(",").map(_.trim).filter(_.nonEmpty).toSeq
      } else Seq("A", "C")
    PipelineConfig(
      ncDir = str("nc_dir", sys.error(s"$path: nc_dir is required")),
      outDir = str("out_dir", sys.error(s"$path: out_dir is required")),
      model = str("model", "WRF"),
      version = str("version", "4.1.2"),
      simTag = str("sim_tag", "evening_18:00"),
      systems = systems,
      variable = str("variable", "Precipitation"),
      unit = str("unit", "mm"),
      unitType = str("unit_type", "Accumulative"),
      filePattern = str("file_pattern", "d03_RAINNC_{system}.nc"),
      // parse from the scalar-checked TEXT, not asLong/asBoolean: a
      // container or mistyped value ("30m", {"minutes": 30}) coerces
      // to 0/false there, silently DISABLING the readiness gate the
      // operator configured — the exact quiet-default failure str()
      // exists to prevent
      waitReadyMs = {
        val s = str("wait_ready_ms", "0")
        require(s.matches("-?[0-9]+"),
          s"$path: wait_ready_ms must be an integer, got '$s'")
        s.toLong
      },
      packagedRfields = {
        val s = str("packaged_rfields", "false")
        require(s == "true" || s == "false",
          s"$path: packaged_rfields must be true/false, got '$s'")
        s.toBoolean
      },
      landSeries = {
        val s = str("land_series", "false")
        require(s == "true" || s == "false",
          s"$path: land_series must be true/false, got '$s'")
        s.toBoolean
      },
      landSeriesFiles = {
        val s = str("land_series_files", "32")
        // toIntOption, not a digit regex + toInt: a value past
        // Int.MaxValue would pass the regex and die in toInt with a
        // raw NumberFormatException that names neither the config
        // path nor the key (r13 review); > 0 here keeps the failure
        // attributed to the file instead of the case-class require
        val n = s.toIntOption
        require(n.exists(_ > 0),
          s"$path: land_series_files must be a positive integer, got '$s'")
        n.get
      },
      // domains: [{"name": "d03", "file_pattern": "d03_RAINNC_{system}.nc",
      //            "bbox": [79.6, 6.6, 81.0, 7.4]}, ...] — bbox in the
      // reference's extent order (lon_min, lat_min, lon_max, lat_max)
      domains =
        if (!node.hasNonNull("domains")) Seq.empty
        else {
          val n = node.get("domains")
          require(n.isArray, s"$path: domains must be an array")
          val it = n.elements()
          val b = Seq.newBuilder[DomainConfig]
          while (it.hasNext) {
            val e = it.next()
            require(e.isObject, s"$path: each domain must be an object")
            require(e.hasNonNull("name") && e.get("name").isValueNode &&
              e.get("name").asText().nonEmpty,
              s"$path: domain needs a non-empty scalar 'name'")
            require(e.hasNonNull("file_pattern") && e.get("file_pattern").isValueNode,
              s"$path: domain '${e.get("name").asText()}' needs file_pattern")
            val bbox =
              if (!e.hasNonNull("bbox")) None
              else {
                val bb = e.get("bbox")
                require(bb.isArray && bb.size() == 4 &&
                  (0 until 4).forall(i => bb.get(i).isNumber),
                  s"$path: bbox must be [lonMin, latMin, lonMax, latMax]")
                Some((bb.get(0).asDouble(), bb.get(1).asDouble(),
                  bb.get(2).asDouble(), bb.get(3).asDouble()))
              }
            b += DomainConfig(e.get("name").asText(),
              e.get("file_pattern").asText(), bbox)
          }
          b.result()
        })
  }
}
