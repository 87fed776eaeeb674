package graft.nexmark

/** Deterministic Nexmark event generator.
  *
  * Reproduces the reference's id arithmetic and skew formulas exactly
  * (common/NexmarkCommon.java:9-59, source/NexmarkPersonSource.java:36-52,
  * NexmarkAuctionSource.java:41-70, NexmarkBidSource.java:40-70,
  * generator/GeneratorPipeline.java:93-180) but replaces
  * `ThreadLocalRandom`/wall-clock with a splitmix64 stream keyed by
  * (seed, eventId) and an affine event-time model, so every event is a pure
  * function of its id — reproducible across runs, partitions and engines
  * (SURVEY §7.4.3: the reference's randomness is untestable; determinism is
  * a deliberate, documented divergence).
  *
  * Parallelism model: like the reference's per-subtask id strides
  * (NexmarkCommon.getPersonStride/geAuctiontride/getBidStride,
  * NexmarkCommon.java:43-59), a generator instance takes (subtask,
  * parallelism) and offsets ids by `stride * subtask` — so a Spark job can
  * run one generator per partition with non-colliding ids, exactly like
  * 50-way Flink sources.
  */
final case class GenConfig(
    seed: Long = 42L,
    subtask: Int = 0,
    parallelism: Int = 1,
    baseTimestamp: Long = 1704067200000L, // 2024-01-01T00:00:00Z
    eventsPerSecond: Long = 1000L,
    /** Opt-in SIZE-matched person payloads: each textual field is a
      * deterministic random string whose length equals the reference
      * dictionaries' mean entry length (name 14 ≈ 6+1+7 first+last,
      * email 9, city 7, country 9, province 9, homepage 6 — measured over
      * original/Firstnames.java, Lastnames.java, Cities.java,
      * Countries.java, Emails.java), so ingest BYTE rates are comparable
      * to the reference's without copying its word lists. Auction
      * payloads are already exact (20-char name, 200-char descr =
      * RandomStrings.java:8-9 lengths); bids carry no strings. Off by
      * default: the compact original vocabularies keep query outputs
      * readable and grouping cardinalities interesting.
      */
    sizedPayloads: Boolean = false) {
  require(parallelism > 0 && subtask >= 0 && subtask < parallelism)
  // NexmarkCommon.java:43-59
  val minPersonId: Long = (NexmarkGen.MaxPersonId / parallelism) * subtask
  val minAuctionId: Long = (NexmarkGen.MaxAuctionId / parallelism) * subtask
}

object NexmarkGen {
  // common/NexmarkCommon.java:9-27
  val PersonEventRatio = 1L
  val AuctionEventRatio = 4L
  val BidEventRatio = 4L
  val TotalEventRatio: Long = PersonEventRatio + AuctionEventRatio + BidEventRatio // 9
  val MaxPersonId = 540000000L
  val MaxAuctionId = 540000000000L
  val HotSellerRatio = 100
  val HotAuctionsProb = 85 // P(hot) = P(nextInt(100) > 85) = 14/100 branch split
  val HotAuctionRatio = 100

  /** splitmix64 (public domain constant-set; Steele et al., "Fast
    * Splittable Pseudorandom Number Generators") — a pure function of the
    * input, our stand-in for ThreadLocalRandom.
    */
  def mix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Uniform int in [0, bound) from the (seed, eventId, slot) stream. */
  def nextInt(cfg: GenConfig, eventId: Long, slot: Int, bound: Int): Int =
    (Math.floorMod(mix64(cfg.seed ^ mix64(eventId * 8 + slot)), bound.toLong)).toInt
  def nextLong(cfg: GenConfig, eventId: Long, slot: Int, bound: Long): Long =
    Math.floorMod(mix64(cfg.seed ^ mix64(eventId * 8 + slot)), bound)

  /** Affine event-time: wall clock replaced by a rate-derived timestamp. */
  def eventTimestamp(cfg: GenConfig, eventId: Long): Long =
    cfg.baseTimestamp + eventId * 1000L / cfg.eventsPerSecond

  // ---- id arithmetic (verbatim semantics) ----

  /** NexmarkPersonSource.java:40-46: person id for person-event `eventId`. */
  def personId(cfg: GenConfig, eventId: Long): Long = {
    val epoch = eventId / TotalEventRatio
    val offset0 = eventId % TotalEventRatio
    val offset = if (offset0 >= PersonEventRatio) PersonEventRatio - 1 else offset0
    cfg.minPersonId + epoch * PersonEventRatio + offset
  }

  /** NexmarkAuctionSource.java:41-51: auction id for auction-event `eventId`. */
  def auctionId(cfg: GenConfig, eventId: Long): Long = {
    var epoch = eventId / TotalEventRatio
    val offset0 = eventId % TotalEventRatio
    if (offset0 < PersonEventRatio) epoch -= 1
    val offset = AuctionEventRatio - 1
    cfg.minAuctionId + epoch * AuctionEventRatio + offset
  }

  /** NexmarkAuctionSource.java:53-68: the auction's seller — hot person
    * with P=14% (quantized to HotSellerRatio), else one of the ~20k most
    * recent persons.
    */
  def auctionSeller(cfg: GenConfig, eventId: Long): Long = {
    val epoch = eventId / TotalEventRatio
    val offset0 = eventId % TotalEventRatio
    val offset = if (offset0 >= PersonEventRatio) PersonEventRatio - 1 else offset0
    if (nextInt(cfg, eventId, 0, 100) > HotAuctionsProb) {
      val pid = epoch * PersonEventRatio + offset
      cfg.minPersonId + (pid / HotSellerRatio) * HotSellerRatio
    } else {
      val pid = epoch * PersonEventRatio + offset + 1
      val activePersons = Math.min(pid, 20000L)
      val n = nextLong(cfg, eventId, 1, activePersons + 100)
      cfg.minPersonId + pid + activePersons - n
    }
  }

  /** NexmarkBidSource.java:44-56: the bid's auction — hot auction with
    * P=14% (quantized to HotAuctionRatio), else ~uniform over the last 20k.
    */
  def bidAuction(cfg: GenConfig, eventId: Long): Long = {
    val epoch = eventId / TotalEventRatio
    val last = epoch * AuctionEventRatio + AuctionEventRatio - 1
    val id =
      if (nextInt(cfg, eventId, 2, 100) > HotAuctionsProb)
        cfg.minAuctionId + (last / HotAuctionRatio) * HotAuctionRatio
      else {
        val a = Math.max(0L, last - 20000L)
        cfg.minAuctionId + a + nextLong(cfg, eventId, 3, last - a + 1 + 100)
      }
    Math.abs(id)
  }

  /** NexmarkBidSource.java:58-66: the bidder — hot person with P=14%, else
    * ~uniform over the last 60k.
    */
  def bidBidder(cfg: GenConfig, eventId: Long): Long = {
    val epoch = eventId / TotalEventRatio
    val pid = epoch * PersonEventRatio + PersonEventRatio - 1
    val id =
      if (nextInt(cfg, eventId, 4, 100) > 85)
        cfg.minPersonId + (pid / HotSellerRatio) * HotSellerRatio
      else {
        val activePersons = Math.min(pid, 60000L)
        val n = nextLong(cfg, eventId, 5, activePersons + 100)
        cfg.minPersonId + pid + activePersons - n
      }
    Math.abs(id)
  }

  // ---- record construction ----

  private def pick(arr: Array[String], cfg: GenConfig, eventId: Long, slot: Int): String =
    arr(nextInt(cfg, eventId, slot, arr.length))

  /** Deterministic a-z+space string of length n (RandomStrings.java:17-43
    * shape: ~1-in-13 chars is a space; NUL-terminated in the reference,
    * plain string here).
    */
  /** Deterministic a-z-only string (no spaces) — for fields whose shape
    * consumers rely on (e.g. the "first last" split in RawPerson framing).
    */
  def letters(cfg: GenConfig, eventId: Long, slot: Int, n: Int): String = {
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) {
      val r = mix64(cfg.seed ^ mix64((eventId * 64 + slot) * 256 + i))
      sb.append(('a' + Math.floorMod(r >>> 8, 26)).toChar)
      i += 1
    }
    sb.toString
  }

  def randomString(cfg: GenConfig, eventId: Long, slot: Int, n: Int): String = {
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) {
      val r = mix64(cfg.seed ^ mix64((eventId * 64 + slot) * 256 + i))
      val c = if (Math.floorMod(r, 13) == 0) ' ' else ('a' + Math.floorMod(r >>> 8, 26)).toChar
      sb.append(c)
      i += 1
    }
    sb.toString
  }

  // ---- per-field builders: `person`, `auction` and the DSv2 source's
  // rows (which build a string field only when it is read) share them ----

  /** "first last" (beans/NewPersonEvent0.java:71-82). Sized: the shape is
    * kept (consumers split on the space; parts are space-free a-z), at
    * 6 + 1 + 7 = the reference's mean. */
  def personName(cfg: GenConfig, eventId: Long): String =
    if (cfg.sizedPayloads) letters(cfg, eventId, 10, 6) + " " + letters(cfg, eventId, 11, 7)
    else pick(Dictionaries.Firstnames, cfg, eventId, 10) + " " +
      pick(Dictionaries.Lastnames, cfg, eventId, 11)
  def personEmail(cfg: GenConfig, eventId: Long): String =
    if (cfg.sizedPayloads) randomString(cfg, eventId, 12, 9)
    else pick(Dictionaries.Firstnames, cfg, eventId, 10) + "." +
      pick(Dictionaries.Lastnames, cfg, eventId, 11) + "@" +
      pick(Dictionaries.EmailDomains, cfg, eventId, 12)
  def personCity(cfg: GenConfig, eventId: Long): String =
    if (cfg.sizedPayloads) randomString(cfg, eventId, 13, 7)
    else pick(Dictionaries.Cities, cfg, eventId, 13)
  def personCountry(cfg: GenConfig, eventId: Long): String =
    if (cfg.sizedPayloads) randomString(cfg, eventId, 14, 9)
    else pick(Dictionaries.Countries, cfg, eventId, 14)
  def personProvince(cfg: GenConfig, eventId: Long): String =
    if (cfg.sizedPayloads) randomString(cfg, eventId, 15, 9)
    else pick(Dictionaries.EmailDomains, cfg, eventId, 15)
  def personZipcode(cfg: GenConfig, eventId: Long): String = "10587" // NewPersonEvent0.java:81
  def personHomepage(cfg: GenConfig, eventId: Long): String =
    if (cfg.sizedPayloads) randomString(cfg, eventId, 16, 6)
    else pick(Dictionaries.Firstnames, cfg, eventId, 16)
  def personCreditcard(cfg: GenConfig, eventId: Long): String = "00000000000" // NewPersonEvent0.java:80

  def auctionItem(cfg: GenConfig, eventId: Long): Long = nextLong(cfg, eventId, 6, 1000000L)
  def auctionInitialPrice(cfg: GenConfig, eventId: Long): Double =
    nextInt(cfg, eventId, 7, 10000000).toDouble
  def auctionCategory(cfg: GenConfig, eventId: Long): Long = nextInt(cfg, eventId, 8, 10).toLong
  /** An auction ends this long after it starts (AuctionEvent0.java:76-86). */
  val AuctionDurationMs = 10000L
  /** 20-char name, 200-char description (RandomStrings.java:8-9). */
  def auctionName(cfg: GenConfig, eventId: Long): String = randomString(cfg, eventId, 0, 20)
  def auctionDescr(cfg: GenConfig, eventId: Long): String = randomString(cfg, eventId, 1, 200)

  /** beans/NewPersonEvent0.java:71-82. With [[GenConfig.sizedPayloads]],
    * textual fields switch to deterministic random strings at the
    * reference dictionaries' mean lengths (see the GenConfig field doc) —
    * size-matched, never content-matched.
    */
  def person(cfg: GenConfig, eventId: Long): Person = {
    val ts = eventTimestamp(cfg, eventId)
    Person(
      timestamp = ts,
      personId = personId(cfg, eventId),
      name = personName(cfg, eventId),
      email = personEmail(cfg, eventId),
      city = personCity(cfg, eventId),
      country = personCountry(cfg, eventId),
      province = personProvince(cfg, eventId),
      zipcode = personZipcode(cfg, eventId),
      homepage = personHomepage(cfg, eventId),
      creditcard = personCreditcard(cfg, eventId),
      ingestionTimestamp = ts)
  }

  /** NexmarkAuctionSource.java:69 + AuctionEvent0.init (AuctionEvent0.java:76-86). */
  def auction(cfg: GenConfig, eventId: Long): Auction = {
    val ts = eventTimestamp(cfg, eventId)
    Auction(
      timestamp = ts,
      auctionId = auctionId(cfg, eventId),
      personId = auctionSeller(cfg, eventId),
      itemId = auctionItem(cfg, eventId),
      initialPrice = auctionInitialPrice(cfg, eventId),
      start = ts,
      end = ts + AuctionDurationMs,
      categoryId = auctionCategory(cfg, eventId),
      name = auctionName(cfg, eventId),
      descr = auctionDescr(cfg, eventId),
      ingestionTimestamp = ts)
  }

  /** NexmarkBidSource.java:68: price = nextDouble(10_000_000); bidId = -1. */
  def bid(cfg: GenConfig, eventId: Long): Bid = {
    val ts = eventTimestamp(cfg, eventId)
    Bid(
      ingestionTimestamp = ts,
      timestamp = ts,
      auctionId = bidAuction(cfg, eventId),
      personId = bidBidder(cfg, eventId),
      bidId = -1L,
      bid = nextLong(cfg, eventId, 9, 10000000L).toDouble)
  }

  /** GeneratorPipeline.java:115-173: interleaved P:A:B = 1:4:4 per 9-event
    * epoch, dispatched on eventId % 9.
    */
  def event(cfg: GenConfig, eventId: Long): Event = {
    val offset = eventId % TotalEventRatio
    if (offset < PersonEventRatio) Event.of(person(cfg, eventId))
    else if (offset < PersonEventRatio + AuctionEventRatio) Event.of(auction(cfg, eventId))
    else Event.of(bid(cfg, eventId))
  }

  def persons(cfg: GenConfig, n: Long): Iterator[Person] =
    Iterator.range(0L, n).map(person(cfg, _))
  def auctions(cfg: GenConfig, n: Long): Iterator[Auction] =
    Iterator.range(0L, n).map(auction(cfg, _))
  def bids(cfg: GenConfig, n: Long): Iterator[Bid] =
    Iterator.range(0L, n).map(bid(cfg, _))
  def events(cfg: GenConfig, n: Long): Iterator[Event] =
    Iterator.range(0L, n).map(event(cfg, _))
}
