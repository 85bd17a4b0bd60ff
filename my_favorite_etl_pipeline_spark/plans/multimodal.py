"""Multimodal plans over the documents-as-media fixture.

Image features, frame sampling and 8x8 resize, audio features, and
near-duplicate detection by image dHash and audio envelope, all built
on ``operators.multimodal``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.multimodal import documents_as_media, extract_features
from ..registry import register
from ..sources.tables import load


@register(
    "multimodal_features",
    oracle="""
    SELECT doc_id AS media_id,
           CAST((1 + doc_id % 3)
                * (68 + (1 + (doc_id // 16) % 16) * (2 + doc_id % 16)) AS INT)
             AS byte_len,
           CAST(1 + doc_id % 16 AS INT) AS width,
           CAST(1 + (doc_id // 16) % 16 AS INT) AS height,
           CAST(1 + doc_id % 3 AS INT) AS n_frames
    FROM documents
    """,
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 — REAL image decode via Arrow-batched mapInPandas.

    The fixture adapter emits genuine multi-frame PNG containers (see
    operators.multimodal.documents_as_media) whose dimensions, frame count,
    and exact byte size are pure functions of doc_id; extract_features then
    PARSES those bytes (PNG chunk walk — no image library, no stub). The
    oracle recomputes each feature arithmetically: width = 1 + id % 16,
    height = 1 + (id // 16) % 16, frames = 1 + id % 3, and byte_len =
    frames × (68 + height × (width + 1)) — the stored-block PNG size
    formula. A decode regression (wrong endianness, off-by-one chunk walk)
    breaks the hash match immediately.
    """
    docs = load(spark, sf_dir, "documents")
    return extract_features(documents_as_media(docs))


@register(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id AS media_id, u.i AS frame_idx,
           CAST(68 + (1 + (doc_id // 16) % 16) * (2 + doc_id % 16) AS INT)
             AS frame_bytes
    FROM documents CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS i) u
    WHERE u.i < 1 + doc_id % 3
    """,
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 — frame sampling: a multi-frame container fans out to one row per
    sampled frame via mapInPandas (the video→frames shape; a pandas_udf
    must stay 1:1). Frames are REAL parsed units — the chunk walk slices the
    concatenated-PNG container at actual IEND boundaries, so every emitted
    frame_payload is a complete, independently decodable PNG. The oracle
    regenerates the fan-out (1 + id % 3 frames) and each frame's exact
    encoded size from doc_id."""
    from ..operators.multimodal import sample_frames

    docs = load(spark, sf_dir, "documents")
    frames = sample_frames(documents_as_media(docs), n_frames=4)
    return frames.select(
        "media_id", "frame_idx", F.length("frame_payload").cast("int").alias("frame_bytes")
    )


@register(
    "multimodal_resize_8x8",
    oracle="""
    WITH g AS (SELECT UNNEST(range(8)) AS i),
    d AS (SELECT doc_id AS media_id, 1 + doc_id % 16 AS w,
                 1 + (doc_id // 16) % 16 AS h
          FROM documents),
    px AS (
      SELECT media_id,
             SUM((media_id * 31
                  + LEAST(h - 1, y.i * h // 8) * w
                  + LEAST(w - 1, x.i * w // 8)) % 256) AS pixel_sum
      FROM d CROSS JOIN g x CROSS JOIN g y
      GROUP BY media_id
    )
    SELECT CAST(d.media_id AS BIGINT) AS media_id,
           CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
           CAST(68 + 8 * 9 AS BIGINT) AS byte_len,
           CAST(px.pixel_sum AS BIGINT) AS pixel_sum
    FROM d JOIN px USING (media_id)
    """,
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 (new r6) — REAL image resize, verified arithmetically: every
    single-frame fixture PNG is decoded, nearest-neighbor resampled to
    8×8, re-encoded (resize_media), then DECODED AGAIN in a second
    mapInPandas pass that reports dimensions, encoded byte length, and the
    pixel sum. The oracle recomputes the pixel sum in pure SQL from the
    fixture's pixel function ((id·31 + sy·w + sx) mod 256 over the
    nearest-neighbor source grid) and the byte length from the
    stored-block PNG size formula — so a resample off-by-one, a wrong
    rounding in the source-index math, or an encoder regression all break
    the value hash. Both passes are Arrow-batched map-only operators; at
    100 TB this is the decode→transform→re-encode template for thumbnail /
    tile generation with zero shuffles.
    """
    import pandas as pd

    from ..operators.multimodal import decode_png_gray, resize_media

    docs = load(spark, sf_dir, "documents")
    media = documents_as_media(docs, max_frames=1)
    resized = resize_media(media, target_w=8, target_h=8)

    def verify(batches):
        for pdf in batches:
            ids, ws, hs, lens, sums = [], [], [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                raw = bytes(p)
                w, h, px = decode_png_gray(raw)
                ids.append(mid)
                ws.append(w)
                hs.append(h)
                lens.append(len(raw))
                sums.append(int(sum(px)))
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "width": ws,
                    "height": hs,
                    "byte_len": lens,
                    "pixel_sum": sums,
                }
            )

    return resized.mapInPandas(
        verify, "media_id long, width int, height int, byte_len long, pixel_sum long"
    )


# ---------------------------------------------------------------------------
# image_dhash_near_dups — perceptual-hash image dedup (X5 × X2)

_DH_T = 4  # max Hamming distance for a near-dup pair (64-bit dHash)

_DH_PC_LO, _DH_PC_HI = 8, 56  # flat-image entropy guard on the bit count


@register(
    "image_dhash_near_dups",
    oracle=f"""
    WITH d AS (SELECT doc_id AS media_id, 1 + doc_id % 16 AS w,
                      1 + (doc_id // 16) % 16 AS h
               FROM documents),
    gx AS (SELECT UNNEST(range(8)) AS x), gy AS (SELECT UNNEST(range(8)) AS y),
    bits AS (
      SELECT media_id, y.y * 8 + x.x AS b,
             CASE WHEN ((media_id * 31 + LEAST(h - 1, y.y * h // 8) * w
                         + LEAST(w - 1, x.x * w // 9)) % 256)
                     < ((media_id * 31 + LEAST(h - 1, y.y * h // 8) * w
                         + LEAST(w - 1, (x.x + 1) * w // 9)) % 256)
                  THEN 1 ELSE 0 END AS bit
      FROM d CROSS JOIN gx x CROSS JOIN gy y
    ),
    hsh AS MATERIALIZED (
      SELECT media_id,
             CAST(SUM(CASE WHEN b < 32 THEN bit * (CAST(1 AS BIGINT) << b)
                           ELSE 0 END) AS BIGINT) AS lo,
             CAST(SUM(CASE WHEN b >= 32 THEN bit * (CAST(1 AS BIGINT) << (b - 32))
                           ELSE 0 END) AS BIGINT) AS hi,
             SUM(bit) AS pc
      FROM bits GROUP BY media_id
    ),
    kept AS (SELECT * FROM hsh WHERE pc BETWEEN {_DH_PC_LO} AND {_DH_PC_HI}),
    bd AS (SELECT media_id, hi, lo,
                  UNNEST([lo % 65536, lo // 65536, hi % 65536, hi // 65536]) AS bv,
                  UNNEST([0, 1, 2, 3]) AS bi
           FROM kept),
    cand AS (
      SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b
      FROM bd a JOIN bd b ON a.bi = b.bi AND a.bv = b.bv
                         AND a.media_id < b.media_id
    ),
    pairs AS (
      SELECT c.id_a, c.id_b,
             bit_count(xor(ka.hi, kb.hi)) + bit_count(xor(ka.lo, kb.lo)) AS ham
      FROM cand c JOIN kept ka ON c.id_a = ka.media_id
                  JOIN kept kb ON c.id_b = kb.media_id
      WHERE bit_count(xor(ka.hi, kb.hi)) + bit_count(xor(ka.lo, kb.lo)) <= {_DH_T}
    ),
    dir AS (SELECT id_a AS id, id_b AS nbr, ham FROM pairs
            UNION ALL SELECT id_b, id_a, ham FROM pairs),
    agg AS (
      SELECT id, n, nbr, ham FROM (
        SELECT id, nbr, ham, COUNT(*) OVER (PARTITION BY id) AS n,
               ROW_NUMBER() OVER (PARTITION BY id ORDER BY ham, nbr) AS rn
        FROM dir) WHERE rn = 1
    )
    SELECT k.media_id, CAST(COALESCE(a.n, 0) AS BIGINT) AS n_near_dups,
           CAST(COALESCE(a.nbr, -1) AS BIGINT) AS nn_id,
           CAST(COALESCE(a.ham, 99) AS INT) AS nn_ham
    FROM kept k LEFT JOIN agg a ON k.media_id = a.id
    ORDER BY k.media_id
    """,
)
def q_image_dhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 × X2 (r10) — IMAGE near-duplicate detection by difference hash
    (dHash, the perceptual-hash family's gradient member; Krawetz 2013):
    decode every fixture PNG, nearest-neighbor resample to 9×8 gray (the
    same resize_media/decode_png_gray pair the resize-roundtrip entry
    verifies arithmetically), take the 64 adjacent-pixel comparisons as a
    64-bit signature, drop near-constant "flat" images whose bit count
    falls outside [{_DH_PC_LO}, {_DH_PC_HI}] (the standard pHash-pipeline
    entropy guard — a flat thumbnail matches EVERYTHING and poisons the
    buckets), then find pairs at Hamming ≤ {_DH_T} via the 4×16-bit
    banded equi-join (the SimHash machinery applied to pixels instead of
    shingles). Emits the per-image dedup REPORT — near-dup count +
    nearest neighbor — the multimodal dedup rung every image-text
    training pipeline runs (LAION/DataComp dedup their images exactly
    this way, with bigger hashes).

    The oracle replays the WHOLE pipeline from the fixture's pixel
    formula ((id·31 + sy·w + sx) mod 256 over the nearest-neighbor source
    grid — the multimodal_resize_8x8 contract), so a decode, resample,
    bit-pack, banding, or Hamming regression all break the value hash.
    Hamming distance is bit_count(xor) on two 32-bit halves — portable
    BIGINTs, no sign-bit trap.

    Plan at 100 TB: the decode+hash is ONE Arrow-batched map pass
    (64-byte signature per image — the sketch property); candidates come
    from the banded equi-join, never all-pairs; the per-image report is
    two hash aggs. Skew: flat-ish images that SURVIVE the guard still
    concentrate in few buckets (measured max bucket 313 of 2191 kept at
    sf0.1) — the documented mitigations are a stricter guard or a
    two-band AND requirement, and AQE skew-join splits the moderate
    cases; the guard itself removes the pathological mass (measured:
    12.7M → 1.25M candidates at sf0.1).
    """
    import pandas as pd

    from ..operators.multimodal import decode_png_gray, resize_media

    docs = load(spark, sf_dir, "documents")
    media = documents_as_media(docs, max_frames=1)
    resized = resize_media(media, target_w=9, target_h=8)

    def hash_batch(batches):
        for pdf in batches:
            ids, his, los, pcs = [], [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                w, h, px = decode_png_gray(bytes(p))
                v = 0
                for y in range(8):
                    for x in range(8):
                        if px[y * 9 + x] < px[y * 9 + x + 1]:
                            v |= 1 << (y * 8 + x)
                ids.append(mid)
                his.append(v >> 32)
                los.append(v & 0xFFFFFFFF)
                pcs.append(bin(v).count("1"))
            yield pd.DataFrame(
                {"media_id": ids, "hi": his, "lo": los, "pc": pcs}
            )

    from ..caching import tracked_persist

    kept = tracked_persist(
        resized.mapInPandas(
            hash_batch, "media_id long, hi long, lo long, pc int"
        ).filter(F.col("pc").between(_DH_PC_LO, _DH_PC_HI))
    )
    band_arr = F.array(
        *[
            F.struct(F.lit(i).alias("bi"), e.cast("long").alias("bv"))
            for i, e in enumerate(
                [
                    F.col("lo") % 65536,
                    F.expr("lo DIV 65536"),
                    F.col("hi") % 65536,
                    F.expr("hi DIV 65536"),
                ]
            )
        ]
    )
    bd = kept.select(
        "media_id", "hi", "lo", F.explode(band_arr).alias("b")
    ).select("media_id", "hi", "lo", "b.bi", "b.bv")
    a = bd.select(
        F.col("media_id").alias("id_a"), F.col("hi").alias("hi_a"),
        F.col("lo").alias("lo_a"), "bi", "bv",
    )
    b = bd.select(
        F.col("media_id").alias("id_b"), F.col("hi").alias("hi_b"),
        F.col("lo").alias("lo_b"), "bi", "bv",
    )
    ham = (
        F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
        + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
    )
    pairs = (
        a.join(b, ["bi", "bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.alias("ham"))
        .distinct()
        .filter(F.col("ham") <= _DH_T)
    )
    direct = pairs.select(
        F.col("id_a").alias("id"), F.col("id_b").alias("nbr"), "ham"
    ).unionByName(
        pairs.select(F.col("id_b").alias("id"), F.col("id_a").alias("nbr"), "ham")
    )
    agg = direct.groupBy("id").agg(
        F.count(F.lit(1)).alias("n"),
        F.min_by(F.struct("nbr", "ham"), F.struct("ham", "nbr")).alias("nn"),
    )
    return (
        kept.select("media_id")
        .join(agg, kept.media_id == agg.id, "left")
        .select(
            "media_id",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_near_dups"),
            F.coalesce(F.col("nn.nbr"), F.lit(-1)).cast("long").alias("nn_id"),
            F.coalesce(F.col("nn.ham"), F.lit(99)).cast("int").alias("nn_ham"),
        )
        .orderBy("media_id")
    )


# ---------------------------------------------------------------------------
# audio_envelope_near_dups — perceptual audio dedup (X5 × X2), dHash's twin

_AE_T = 3  # max Hamming distance over the 63-bit envelope hash

_AE_PC_LO, _AE_PC_HI = 8, 55  # flat-audio entropy guard (silence/constant tone)


@register(
    "audio_envelope_near_dups",
    oracle=f"""
    WITH d AS (SELECT doc_id AS media_id, 1 + doc_id % 2 AS ch,
                      8000 * (1 + doc_id % 3) AS rate,
                      (100 + doc_id % 50) * (1 + doc_id % 2) AS m
               FROM documents),
    sg AS (SELECT UNNEST(range(64)) AS s),
    e AS (
      SELECT media_id, ch, rate, sg.s AS s,
             LIST_SUM(LIST_TRANSFORM(
               range((sg.s * m) // 64, ((sg.s + 1) * m) // 64),
               i -> ABS(CAST((media_id * 31 + 7 * i) % 256 AS BIGINT) - 128)
             )) AS e
      FROM d CROSS JOIN sg
    ),
    bits AS (
      SELECT media_id, ch, rate, s,
             CASE WHEN LEAD(e) OVER (PARTITION BY media_id ORDER BY s) > e
                  THEN 1 ELSE 0 END AS bit
      FROM e
    ),
    hsh AS MATERIALIZED (
      SELECT media_id, ch, rate,
             CAST(SUM(CASE WHEN s < 32 THEN bit * (CAST(1 AS BIGINT) << s)
                           ELSE 0 END) AS BIGINT) AS lo,
             CAST(SUM(CASE WHEN s >= 32 THEN bit * (CAST(1 AS BIGINT) << (s - 32))
                           ELSE 0 END) AS BIGINT) AS hi,
             SUM(bit) AS pc
      FROM bits WHERE s < 63 GROUP BY 1, 2, 3
    ),
    kept AS (SELECT * FROM hsh WHERE pc BETWEEN {_AE_PC_LO} AND {_AE_PC_HI}),
    bd AS (SELECT media_id, ch, rate, hi, lo,
                  UNNEST([lo % 65536, lo // 65536, hi % 65536, hi // 65536]) AS bv,
                  UNNEST([0, 1, 2, 3]) AS bi
           FROM kept),
    cand AS (
      SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b
      FROM bd a JOIN bd b ON a.bi = b.bi AND a.bv = b.bv
                         AND a.ch = b.ch AND a.rate = b.rate
                         AND a.media_id < b.media_id
    ),
    pairs AS (
      SELECT c.id_a, c.id_b,
             bit_count(xor(ka.hi, kb.hi)) + bit_count(xor(ka.lo, kb.lo)) AS ham
      FROM cand c JOIN kept ka ON c.id_a = ka.media_id
                  JOIN kept kb ON c.id_b = kb.media_id
      WHERE bit_count(xor(ka.hi, kb.hi)) + bit_count(xor(ka.lo, kb.lo)) <= {_AE_T}
    ),
    dir AS (SELECT id_a AS id, id_b AS nbr, ham FROM pairs
            UNION ALL SELECT id_b, id_a, ham FROM pairs),
    agg AS (
      SELECT id, n, nbr, ham FROM (
        SELECT id, nbr, ham, COUNT(*) OVER (PARTITION BY id) AS n,
               ROW_NUMBER() OVER (PARTITION BY id ORDER BY ham, nbr) AS rn
        FROM dir) WHERE rn = 1
    )
    SELECT k.media_id, CAST(COALESCE(a.n, 0) AS BIGINT) AS n_near_dups,
           CAST(COALESCE(a.nbr, -1) AS BIGINT) AS nn_id,
           CAST(COALESCE(a.ham, 99) AS INT) AS nn_ham
    FROM kept k LEFT JOIN agg a ON k.media_id = a.id
    ORDER BY k.media_id
    """,
)
def q_audio_envelope_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 × X2 (r10) — AUDIO near-duplicate detection by energy-envelope
    difference hash: decode every fixture WAV (the REAL RIFF/PCM parse
    the audio-features entry verifies arithmetically), split the sample
    stream into 64 equal segments, take each segment's total absolute
    deviation from the PCM-8 midpoint (128) as its energy, and hash the
    63 adjacent-segment comparisons into a 63-bit signature — dHash's
    time-axis twin (the same "gradient, not absolute level" trick that
    makes dHash robust to brightness makes this robust to gain). Pairs at
    Hamming ≤ {_AE_T} come from the 4×16-bit banded equi-join keyed ALSO
    on (channels, sample_rate) so formats never cross-match; a
    popcount-outside-[{_AE_PC_LO}, {_AE_PC_HI}] guard drops silence/
    constant-tone payloads whose all-equal envelopes would match
    everything (the image op's flat-thumbnail guard, transposed). Emits
    the same per-item dedup report as `image_dhash_near_dups` — the
    audio rung of multimodal dedup (near-identical clips differing only
    in gain/trim land in adjacent envelope space).

    The oracle replays decode, segmentation ((s·m)/64 integer bounds),
    energies, bit-pack, banding, and Hamming from the fixture's sample
    formula ((id·31 + 7·i) mod 256 — the documents_as_audio contract),
    so a regression anywhere in the chain breaks the value hash. All
    energies are exact integers; no float enters the pipeline.

    Plan at 100 TB: decode+hash is ONE Arrow-batched map pass emitting a
    16-byte signature per clip; candidates come from the banded
    equi-join (measured: max band bucket 19 of 5000 at sf0.1, candidate
    pairs 28 K — bounded by banding + the format key, never all-pairs);
    the report is two hash aggs. The entropy guard is the skew valve:
    production silence concentrates in one envelope the same way flat
    thumbnails do.
    """
    import pandas as pd

    from ..caching import tracked_persist
    from ..operators.multimodal import documents_as_audio, parse_wav

    docs = load(spark, sf_dir, "documents")
    audio = documents_as_audio(docs)

    def hash_batch(batches):
        for pdf in batches:
            ids, chs, rates, his, los, pcs = [], [], [], [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                rate, ch, _n, data = parse_wav(bytes(p))
                m = len(data)
                e = [
                    sum(abs(x - 128) for x in data[(s * m) // 64 : ((s + 1) * m) // 64])
                    for s in range(64)
                ]
                v = 0
                for s in range(63):
                    if e[s + 1] > e[s]:
                        v |= 1 << s
                ids.append(mid)
                chs.append(ch)
                rates.append(rate)
                los.append(v & 0xFFFFFFFF)
                his.append(v >> 32)
                pcs.append(bin(v).count("1"))
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "ch": chs,
                    "rate": rates,
                    "lo": los,
                    "hi": his,
                    "pc": pcs,
                }
            )

    kept = tracked_persist(
        audio.mapInPandas(
            hash_batch, "media_id long, ch int, rate int, lo long, hi long, pc int"
        ).filter(F.col("pc").between(_AE_PC_LO, _AE_PC_HI))
    )
    band_arr = F.array(
        *[
            F.struct(F.lit(i).alias("bi"), e.cast("long").alias("bv"))
            for i, e in enumerate(
                [
                    F.col("lo") % 65536,
                    F.expr("lo DIV 65536"),
                    F.col("hi") % 65536,
                    F.expr("hi DIV 65536"),
                ]
            )
        ]
    )
    bd = kept.select(
        "media_id", "ch", "rate", "hi", "lo", F.explode(band_arr).alias("b")
    ).select("media_id", "ch", "rate", "hi", "lo", "b.bi", "b.bv")
    a = bd.select(
        F.col("media_id").alias("id_a"), F.col("hi").alias("hi_a"),
        F.col("lo").alias("lo_a"), "ch", "rate", "bi", "bv",
    )
    b = bd.select(
        F.col("media_id").alias("id_b"), F.col("hi").alias("hi_b"),
        F.col("lo").alias("lo_b"), "ch", "rate", "bi", "bv",
    )
    ham = (
        F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
        + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
    )
    pairs = (
        a.join(b, ["bi", "bv", "ch", "rate"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.alias("ham"))
        .distinct()
        .filter(F.col("ham") <= _AE_T)
    )
    direct = pairs.select(
        F.col("id_a").alias("id"), F.col("id_b").alias("nbr"), "ham"
    ).unionByName(
        pairs.select(F.col("id_b").alias("id"), F.col("id_a").alias("nbr"), "ham")
    )
    agg = direct.groupBy("id").agg(
        F.count(F.lit(1)).alias("n"),
        F.min_by(F.struct("nbr", "ham"), F.struct("ham", "nbr")).alias("nn"),
    )
    return (
        kept.select("media_id")
        .join(agg, kept.media_id == agg.id, "left")
        .select(
            "media_id",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_near_dups"),
            F.coalesce(F.col("nn.nbr"), F.lit(-1)).cast("long").alias("nn_id"),
            F.coalesce(F.col("nn.ham"), F.lit(99)).cast("int").alias("nn_ham"),
        )
        .orderBy("media_id")
    )


@register(
    "multimodal_audio_features",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             100 + doc_id % 50 AS n,
             1 + doc_id % 2 AS ch,
             8000 * (1 + doc_id % 3) AS rate
      FROM documents
    ),
    m AS (SELECT doc_id, n, ch, rate, n * ch AS nb FROM d)
    SELECT doc_id AS media_id,
           CAST(44 + nb + (nb % 2) AS INT) AS byte_len,
           CAST(rate AS INT) AS sample_rate,
           CAST(ch AS INT) AS channels,
           CAST(n AS INT) AS n_frames,
           ROUND(CAST(n AS DOUBLE) / rate * 1000, 4) AS duration_ms,
           ROUND(sqrt(list_sum(list_transform(range(nb),
                 i -> (CAST((doc_id*31 + i*7) % 256 AS DOUBLE) - 128)
                      * (CAST((doc_id*31 + i*7) % 256 AS DOUBLE) - 128))) / nb),
                 4) AS rms
    FROM m ORDER BY media_id
    """,
)
def q_multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 (audio) — REAL WAV decode over binary payloads: deterministic
    8-bit-PCM RIFF containers built per document, then an Arrow-batched
    mapInPandas that walks the RIFF chunks (honoring odd-chunk padding),
    decodes PCM, and computes duration + RMS energy. The oracle re-derives
    byte length, duration, and RMS purely from doc_id arithmetic — so a
    header-layout bug, a pad-byte bug, or a decode bug all hash-mismatch.

    Plan: map-only twice (encode, then decode); the payload column lives
    only between the two mapInPandas stages of the SAME task — never
    shuffled, never collected. At 100 TB the only knob is input split size.
    """
    from ..operators.multimodal import documents_as_audio, extract_audio_features

    docs = load(spark, sf_dir, "documents")
    media = documents_as_audio(docs)
    return extract_audio_features(media).orderBy("media_id")
