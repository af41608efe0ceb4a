package graft.config

/**
 * Beacon-chain network parameters and fork schedule.
 *
 * Semantics mirror the reference's network registry and slot arithmetic
 * (era_parser/config/networks.py:1-55, era_parser/config/forks.py:63-81,
 * era_parser/core/era_slot_calculator.py:8-86) re-expressed as pure Scala.
 * At runtime these are tiny constants — broadcast-free lookup on executors.
 */
final case class NetworkConfig(
    name: String,
    genesisTime: Long,
    secondsPerSlot: Long,
    slotsPerEpoch: Long,
    slotsPerHistoricalRoot: Long,
    forkEpochs: Map[String, Long])

object Networks {
  val SlotsPerHistoricalRoot = 8192L

  val mainnet: NetworkConfig = NetworkConfig(
    "mainnet", 1606824023L, 12L, 32L, SlotsPerHistoricalRoot,
    Map("altair" -> 74240L, "bellatrix" -> 144896L, "capella" -> 194048L,
        "deneb" -> 269568L, "electra" -> 364032L))

  val gnosis: NetworkConfig = NetworkConfig(
    "gnosis", 1638993340L, 5L, 16L, SlotsPerHistoricalRoot,
    Map("altair" -> 512L, "bellatrix" -> 385536L, "capella" -> 648704L,
        "deneb" -> 889856L, "electra" -> 1337856L))

  val sepolia: NetworkConfig = NetworkConfig(
    "sepolia", 1655733600L, 12L, 32L, SlotsPerHistoricalRoot,
    Map("altair" -> 50L, "bellatrix" -> 100L, "capella" -> 56832L,
        "deneb" -> 132608L, "electra" -> 222464L))

  val all: Map[String, NetworkConfig] =
    Map("mainnet" -> mainnet, "gnosis" -> gnosis, "sepolia" -> sepolia)

  def apply(name: String): NetworkConfig =
    all.getOrElse(name.toLowerCase,
      throw new IllegalArgumentException(
        s"Unknown network: $name. Available: ${all.keys.mkString(", ")}"))

  /** Network detection from an era filename; mainnet fallback
    * (era_reader.py:32-40, networks.py:50-55). */
  def detectFromFilename(filename: String): String = {
    val f = filename.toLowerCase
    all.keys.find(f.contains).getOrElse("mainnet")
  }
}

/** Fork resolution by slot — the threshold ladder of config/forks.py:63-81. */
object ForkSchedule {
  val order: Seq[String] =
    Seq("electra", "deneb", "capella", "bellatrix", "altair")

  def forkAt(slot: Long, network: NetworkConfig): String = {
    val epoch = slot / network.slotsPerEpoch
    order.find(f => network.forkEpochs.get(f).exists(epoch >= _)).getOrElse("phase0")
  }

  def hasSyncAggregate(fork: String): Boolean = fork != "phase0"
  def hasExecutionPayload(fork: String): Boolean =
    Set("bellatrix", "capella", "deneb", "electra")(fork)
  def hasWithdrawals(fork: String): Boolean = Set("capella", "deneb", "electra")(fork)
  def hasBlsChanges(fork: String): Boolean = Set("capella", "deneb", "electra")(fork)
  def hasBlobCommitments(fork: String): Boolean = Set("deneb", "electra")(fork)
  def hasExecutionRequests(fork: String): Boolean = fork == "electra"
}

/** Era ↔ slot arithmetic (era_slot_calculator.py:8-86). */
object EraSlots {
  def eraOfSlot(slot: Long, cfg: NetworkConfig): Long = slot / cfg.slotsPerHistoricalRoot
  def firstSlot(era: Long, cfg: NetworkConfig): Long = era * cfg.slotsPerHistoricalRoot
  def lastSlot(era: Long, cfg: NetworkConfig): Long =
    firstSlot(era, cfg) + cfg.slotsPerHistoricalRoot - 1
}
