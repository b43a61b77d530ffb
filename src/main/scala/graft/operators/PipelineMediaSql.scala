package graft.operators

/** The DuckDB oracles of the composed image and audio pipelines
  * ([[PipelineMedia]]): full load and incremental, one SQL text per
  * gate, written out in full on purpose. They are the independent
  * reference the Spark gates' hashes are checked against, so they stay
  * apart from the Spark code and are not templated over the modality.
  * The maintained-state gates reuse their incremental twin's SQL
  * verbatim (the hash-identity claim).
  */
private[operators] object PipelineMediaSql {

  import TextNorm.normSql

  private val PlantShift = Multimodal.PlantShift
  private val PlantMod = Multimodal.PlantMod
  private val IncrMod = PipelineIncr.IncrMod
  private val IncrRes = PipelineIncr.IncrRes

  val pipelineE2eMmSql: String = {
    val shards = TrainPrep.OutShards
    val vt = Multimodal.VisionTokens
    s"""
    WITH RECURSIVE ${Multimodal.phashPairCtesSql},
    pm_u AS (
      SELECT doc_id, lang, text FROM documents
      UNION ALL
      SELECT doc_id + $PlantShift, lang, text FROM documents
      WHERE doc_id % $PlantMod = 0),
    ${Pipeline.gopherCtes("pm_u", "pm_")},
    pm_s1 AS MATERIALIZED (
      SELECT doc_id, text, n_tokens FROM pm_qf
      WHERE r_words AND r_mean_len AND r_symbols AND r_alpha
        AND r_stopwords),
    pm_edges AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM cand
        JOIN pm_s1 a ON id_a = a.doc_id JOIN pm_s1 b ON id_b = b.doc_id
      WHERE hamming <= ${Multimodal.PhashMaxHamming}
      UNION
      SELECT id_b, id_a FROM cand
        JOIN pm_s1 a ON id_a = a.doc_id JOIN pm_s1 b ON id_b = b.doc_id
      WHERE hamming <= ${Multimodal.PhashMaxHamming}),
    pm_reach(id, lab) AS (
      SELECT src, src FROM pm_edges
      UNION
      SELECT e.src, r.lab FROM pm_edges e JOIN pm_reach r ON r.id = e.dst),
    pm_comp AS MATERIALIZED (
      SELECT id AS doc_id, min(lab) AS lab FROM pm_reach GROUP BY id),
    pm_s2 AS MATERIALIZED (
      SELECT p.doc_id, p.text, p.n_tokens
      FROM pm_s1 p LEFT JOIN pm_comp c USING (doc_id)
      WHERE c.lab IS NULL OR p.doc_id = c.lab),
    pm_ac AS MATERIALIZED (
      SELECT doc_id,
        CAST(len(ps) AS BIGINT) AS n_images,
        CAST(n_words AS BIGINT) AS n_text_tokens,
        CAST(len(ps) * $vt AS BIGINT) AS n_image_tokens,
        CAST(n_words + len(ps) * $vt AS BIGINT) AS n_total_tokens
      FROM (SELECT doc_id, n_words,
              CASE WHEN doc_id % 3 = 0 THEN
                list_sort(list_distinct([doc_id % (n_words + 1),
                                         (doc_id * 7) % (n_words + 1)]))
              ELSE [] END AS ps
            FROM (SELECT doc_id,
                    len(string_split($normSql, ' ')) AS n_words
                  FROM pm_s2))),
    pm_sz AS (
      SELECT CAST((sum(n_total_tokens) + ${shards - 1}) // $shards
        AS BIGINT) AS ssize
      FROM pm_ac),
    pm_sh AS MATERIALIZED (
      SELECT CAST((cs - n_total_tokens) // ssize AS BIGINT) AS shard_id,
        ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':ck'),
          1, 8))::BIGINT AS ck
      FROM (SELECT doc_id, n_total_tokens,
              CAST(sum(n_total_tokens) OVER (ORDER BY h, doc_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cs
            FROM (SELECT *, ('0x' || substring(
                md5(CAST(doc_id AS VARCHAR) || ':mm'), 1, 8))::BIGINT AS h
              FROM pm_ac)), pm_sz),
    pm_a0 AS (
      SELECT count(*) AS d_u, CAST(sum(n_tokens) AS BIGINT) AS t_u,
        (SELECT count(*) FROM documents WHERE doc_id % $PlantMod = 0) AS np
      FROM pm_tok),
    pm_a1 AS (
      SELECT count(*) FILTER (WHERE NOT r_words) AS fw,
        count(*) FILTER (WHERE NOT r_mean_len) AS fm,
        count(*) FILTER (WHERE NOT r_symbols) AS fs,
        count(*) FILTER (WHERE NOT r_alpha) AS fa,
        count(*) FILTER (WHERE NOT r_stopwords) AS fst
      FROM pm_qf),
    pm_a2 AS (
      SELECT count(*) AS d1,
        CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS t1
      FROM pm_s1),
    pm_a3 AS (
      SELECT count(DISTINCT lab) AS ncl, count(*) AS nmem FROM pm_comp),
    pm_a4 AS (
      SELECT count(*) AS d2,
        CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS t2
      FROM pm_s2),
    pm_a5 AS (
      SELECT CAST(coalesce(sum(n_images), 0) AS BIGINT) AS nimg,
        count(*) FILTER (WHERE n_images > 0) AS ndwi,
        CAST(coalesce(sum(n_total_tokens), 0) AS BIGINT) AS t3
      FROM pm_ac),
    pm_a6 AS (
      SELECT count(DISTINCT shard_id) AS nshards,
        CAST(coalesce(sum(ck), 0) AS BIGINT) AS chk
      FROM pm_sh),
    pm_a AS (
      SELECT * FROM pm_a0, pm_a1, pm_a2, pm_a3, pm_a4, pm_a5, pm_a6)
    SELECT stage_id, stage, docs_in, docs_kept,
      docs_in - docs_kept AS docs_dropped, tokens_in, tokens_out, detail
    FROM (
      SELECT CAST(0 AS BIGINT) AS stage_id, 'arrive' AS stage,
        d_u AS docs_in, d_u AS docs_kept, t_u AS tokens_in,
        t_u AS tokens_out,
        'planted=' || CAST(np AS VARCHAR) AS detail FROM pm_a
      UNION ALL
      SELECT 1, 'quality', d_u, d1, t_u, t1,
        'r_words=' || CAST(fw AS VARCHAR)
          || ',r_mean_len=' || CAST(fm AS VARCHAR)
          || ',r_symbols=' || CAST(fs AS VARCHAR)
          || ',r_alpha=' || CAST(fa AS VARCHAR)
          || ',r_stopwords=' || CAST(fst AS VARCHAR) FROM pm_a
      UNION ALL
      SELECT 2, 'image_dedup', d1, d2, t1, t2,
        'clusters=' || CAST(ncl AS VARCHAR)
          || ',members=' || CAST(nmem AS VARCHAR) FROM pm_a
      UNION ALL
      SELECT 3, 'interleave', d2, d2, t2, t3,
        'images=' || CAST(nimg AS VARCHAR)
          || ',docs_with_images=' || CAST(ndwi AS VARCHAR)
          || ',vision_tokens=' || CAST(t3 - t2 AS VARCHAR) FROM pm_a
      UNION ALL
      SELECT 4, 'shard', d2, d2, t3, t3,
        'shards=' || CAST(nshards AS VARCHAR)
          || ',check=' || CAST(chk AS VARCHAR) FROM pm_a)
    ORDER BY stage_id"""
  }

  val pipelineE2eMmIncrSql: String = {
    val shards = TrainPrep.OutShards
    val vt = Multimodal.VisionTokens
    // the accounting CTE body over a survivor CTE exposing (doc_id, text)
    def accSql(src: String): String = s"""
      SELECT doc_id,
        CAST(len(ps) AS BIGINT) AS n_images,
        CAST(n_words AS BIGINT) AS n_text_tokens,
        CAST(len(ps) * $vt AS BIGINT) AS n_image_tokens,
        CAST(n_words + len(ps) * $vt AS BIGINT) AS n_total_tokens
      FROM (SELECT doc_id, n_words,
              CASE WHEN doc_id % 3 = 0 THEN
                list_sort(list_distinct([doc_id % (n_words + 1),
                                         (doc_id * 7) % (n_words + 1)]))
              ELSE [] END AS ps
            FROM (SELECT doc_id,
                    len(string_split($normSql, ' ')) AS n_words
                  FROM $src))"""
    s"""
    WITH RECURSIVE ${Multimodal.phashPairCtesSql},
    pq_u AS (
      SELECT doc_id, lang, text FROM documents
      UNION ALL
      SELECT doc_id + $PlantShift, lang, text FROM documents
      WHERE doc_id % $PlantMod = 0),
    ${Pipeline.gopherCtes("pq_u", "pq_")},
    pq_s1 AS MATERIALIZED (
      SELECT doc_id, text, n_tokens FROM pq_qf
      WHERE r_words AND r_mean_len AND r_symbols AND r_alpha
        AND r_stopwords),
    pq_b1 AS MATERIALIZED (SELECT * FROM pq_s1
      WHERE (doc_id % $PlantShift) % $IncrMod <> $IncrRes),
    pq_i1 AS MATERIALIZED (SELECT * FROM pq_s1
      WHERE (doc_id % $PlantShift) % $IncrMod = $IncrRes),
    pq_bedges AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM cand
        JOIN pq_b1 a ON id_a = a.doc_id JOIN pq_b1 b ON id_b = b.doc_id
      WHERE hamming <= ${Multimodal.PhashMaxHamming}
      UNION
      SELECT id_b, id_a FROM cand
        JOIN pq_b1 a ON id_a = a.doc_id JOIN pq_b1 b ON id_b = b.doc_id
      WHERE hamming <= ${Multimodal.PhashMaxHamming}),
    pq_breach(id, lab) AS (
      SELECT src, src FROM pq_bedges
      UNION
      SELECT e.src, r.lab FROM pq_bedges e JOIN pq_breach r
        ON r.id = e.dst),
    pq_bcomp AS MATERIALIZED (
      SELECT id AS doc_id, min(lab) AS lab FROM pq_breach GROUP BY id),
    pq_b2 AS MATERIALIZED (
      SELECT p.doc_id, p.text
      FROM pq_b1 p LEFT JOIN pq_bcomp c USING (doc_id)
      WHERE c.lab IS NULL OR p.doc_id = c.lab),
    pq_bac AS MATERIALIZED (${accSql("pq_b2")}),
    pq_btot AS MATERIALIZED (
      SELECT count(*) AS base_docs,
        CAST(coalesce(sum(n_total_tokens), 0) AS BIGINT) AS base_total
      FROM pq_bac),
    pq_medges AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM cand
        JOIN pq_s1 a ON id_a = a.doc_id JOIN pq_s1 b ON id_b = b.doc_id
      WHERE hamming <= ${Multimodal.PhashMaxHamming}
      UNION
      SELECT id_b, id_a FROM cand
        JOIN pq_s1 a ON id_a = a.doc_id JOIN pq_s1 b ON id_b = b.doc_id
      WHERE hamming <= ${Multimodal.PhashMaxHamming}),
    pq_mreach(id, lab) AS (
      SELECT src, src FROM pq_medges
      UNION
      SELECT e.src, r.lab FROM pq_medges e JOIN pq_mreach r
        ON r.id = e.dst),
    pq_mcomp AS MATERIALIZED (
      SELECT id AS doc_id, min(lab) AS lab FROM pq_mreach GROUP BY id),
    pq_hasb AS MATERIALIZED (
      SELECT DISTINCT m.lab FROM pq_mcomp m
      JOIN pq_b1 b ON m.doc_id = b.doc_id),
    pq_i2 AS MATERIALIZED (
      SELECT i.doc_id, i.text, i.n_tokens
      FROM pq_i1 i LEFT JOIN pq_mcomp m ON i.doc_id = m.doc_id
      WHERE m.lab IS NULL
        OR (m.lab NOT IN (SELECT lab FROM pq_hasb)
            AND i.doc_id = m.lab)),
    pq_iac AS MATERIALIZED (${accSql("pq_i2")}),
    pq_isz AS (
      SELECT greatest(1, CAST((base_total + ${shards - 1})
        // $shards AS BIGINT)) AS ssize
      FROM pq_btot),
    pq_ish AS MATERIALIZED (
      SELECT doc_id,
        CAST((base_total + cs - n_total_tokens) // ssize AS BIGINT)
          AS shard_id,
        ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':ck'),
          1, 8))::BIGINT AS ck
      FROM (SELECT doc_id, n_total_tokens,
              CAST(sum(n_total_tokens) OVER (ORDER BY h, doc_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cs
            FROM (SELECT *, ('0x' || substring(
                md5(CAST(doc_id AS VARCHAR) || ':mm'), 1, 8))::BIGINT AS h
              FROM pq_iac)), pq_isz, pq_btot),
    pq_a0 AS (
      SELECT count(*) AS d_i0,
        CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS t_i0,
        (SELECT count(*) FROM documents WHERE doc_id % $PlantMod = 0
           AND (doc_id % $PlantShift) % $IncrMod = $IncrRes) AS np
      FROM pq_tok
      WHERE (doc_id % $PlantShift) % $IncrMod = $IncrRes),
    pq_a1 AS (
      SELECT count(*) FILTER (WHERE NOT r_words) AS fw,
        count(*) FILTER (WHERE NOT r_mean_len) AS fm,
        count(*) FILTER (WHERE NOT r_symbols) AS fs,
        count(*) FILTER (WHERE NOT r_alpha) AS fa,
        count(*) FILTER (WHERE NOT r_stopwords) AS fst
      FROM pq_qf WHERE (doc_id % $PlantShift) % $IncrMod = $IncrRes),
    pq_a2 AS (
      SELECT count(*) AS d1,
        CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS t1 FROM pq_i1),
    pq_a3 AS (
      SELECT count(*) FILTER (WHERE m.lab IN (SELECT lab FROM pq_hasb))
          AS vs_base,
        count(DISTINCT CASE WHEN m.lab IS NOT NULL
          AND m.lab NOT IN (SELECT lab FROM pq_hasb)
          THEN m.lab END) AS clusters_new
      FROM pq_i1 i LEFT JOIN pq_mcomp m ON i.doc_id = m.doc_id),
    pq_a4 AS (
      SELECT count(*) AS d2,
        CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS t2 FROM pq_i2),
    pq_a5 AS (
      SELECT CAST(coalesce(sum(n_images), 0) AS BIGINT) AS nimg,
        count(*) FILTER (WHERE n_images > 0) AS ndwi,
        CAST(coalesce(sum(n_total_tokens), 0) AS BIGINT) AS t3
      FROM pq_iac),
    pq_a6 AS (
      SELECT count(DISTINCT shard_id) AS nshards,
        CAST(coalesce(sum(ck), 0) AS BIGINT) AS chk
      FROM pq_ish),
    pq_a AS (
      SELECT * FROM pq_a0, pq_a1, pq_a2, pq_a3, pq_a4, pq_a5, pq_a6,
        pq_btot)
    SELECT stage_id, stage, docs_in, docs_kept,
      docs_in - docs_kept AS docs_dropped, tokens_in, tokens_out, detail
    FROM (
      SELECT CAST(0 AS BIGINT) AS stage_id, 'arrive' AS stage,
        d_i0 AS docs_in, d_i0 AS docs_kept, t_i0 AS tokens_in,
        t_i0 AS tokens_out,
        'planted=' || CAST(np AS VARCHAR)
          || ',base_docs=' || CAST(base_docs AS VARCHAR)
          || ',base_tokens=' || CAST(base_total AS VARCHAR) AS detail
        FROM pq_a
      UNION ALL
      SELECT 1, 'quality', d_i0, d1, t_i0, t1,
        'r_words=' || CAST(fw AS VARCHAR)
          || ',r_mean_len=' || CAST(fm AS VARCHAR)
          || ',r_symbols=' || CAST(fs AS VARCHAR)
          || ',r_alpha=' || CAST(fa AS VARCHAR)
          || ',r_stopwords=' || CAST(fst AS VARCHAR) FROM pq_a
      UNION ALL
      SELECT 2, 'image_dedup', d1, d2, t1, t2,
        'vs_base=' || CAST(vs_base AS VARCHAR)
          || ',clusters_new=' || CAST(clusters_new AS VARCHAR) FROM pq_a
      UNION ALL
      SELECT 3, 'interleave', d2, d2, t2, t3,
        'images=' || CAST(nimg AS VARCHAR)
          || ',docs_with_images=' || CAST(ndwi AS VARCHAR)
          || ',vision_tokens=' || CAST(t3 - t2 AS VARCHAR) FROM pq_a
      UNION ALL
      SELECT 4, 'shard', d2, d2, t3, t3,
        'shards=' || CAST(nshards AS VARCHAR)
          || ',check=' || CAST(chk AS VARCHAR) FROM pq_a) z
    ORDER BY stage_id"""
  }

  /** The audio-accounting CTE body over a survivor CTE exposing
    * `(doc_id, text)` — the `audio_interleave` arithmetic as the oracle
    * replays it (clip geometry from the parity constants), shared by
    * the full pipeline oracle and the incremental twin's.
    */
  private def audioAccSql(src: String): String = {
    val full = Multimodal.AudRate.toInt
    val samples = Multimodal.AudSamples
    val tps = Multimodal.AudioTokensPerSec
    s"""
      SELECT doc_id,
        CAST(n_clips AS BIGINT) AS n_clips,
        CAST(n_text_tokens AS BIGINT) AS n_text_tokens,
        CAST(CASE WHEN n_clips > 0 THEN n_clips *
            ((clip_samples * $tps + clip_rate - 1) // clip_rate)
          ELSE 0 END AS BIGINT) AS n_audio_tokens,
        CAST(n_text_tokens + CASE WHEN n_clips > 0 THEN n_clips *
            ((clip_samples * $tps + clip_rate - 1) // clip_rate)
          ELSE 0 END AS BIGINT) AS n_total_tokens
      FROM (SELECT doc_id,
              len(string_split($normSql, ' ')) AS n_text_tokens,
              CASE WHEN doc_id % 3 = 1 THEN 1 + (doc_id // 3) % 3
                ELSE 0 END AS n_clips,
              CASE WHEN doc_id % 2 = 0 THEN $full ELSE ${full / 2} END
                AS clip_rate,
              CASE WHEN doc_id % 2 = 0 THEN $samples
                ELSE ${samples / 2} END AS clip_samples
            FROM $src)"""
  }

  val pipelineE2eAudioSql: String = {
    val shards = TrainPrep.OutShards
    s"""
    WITH RECURSIVE ${AudioFp.audioFpCtesSql},
    pa_u AS (
      SELECT doc_id, lang, text FROM documents
      UNION ALL
      SELECT doc_id + $PlantShift, lang, text FROM documents
      WHERE doc_id % $PlantMod = 0),
    ${Pipeline.gopherCtes("pa_u", "pa_")},
    pa_s1 AS MATERIALIZED (
      SELECT doc_id, text, n_tokens FROM pa_qf
      WHERE r_words AND r_mean_len AND r_symbols AND r_alpha
        AND r_stopwords),
    pa_edges AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM afcand
        JOIN pa_s1 a ON id_a = a.doc_id JOIN pa_s1 b ON id_b = b.doc_id
      WHERE hamming <= ${AudioFp.AudioFpMaxHamming}
      UNION
      SELECT id_b, id_a FROM afcand
        JOIN pa_s1 a ON id_a = a.doc_id JOIN pa_s1 b ON id_b = b.doc_id
      WHERE hamming <= ${AudioFp.AudioFpMaxHamming}),
    pa_reach(id, lab) AS (
      SELECT src, src FROM pa_edges
      UNION
      SELECT e.src, r.lab FROM pa_edges e JOIN pa_reach r ON r.id = e.dst),
    pa_comp AS MATERIALIZED (
      SELECT id AS doc_id, min(lab) AS lab FROM pa_reach GROUP BY id),
    pa_s2 AS MATERIALIZED (
      SELECT p.doc_id, p.text, p.n_tokens
      FROM pa_s1 p LEFT JOIN pa_comp c USING (doc_id)
      WHERE c.lab IS NULL OR p.doc_id = c.lab),
    pa_ac AS MATERIALIZED (${audioAccSql("pa_s2")}),
    pa_sz AS (
      SELECT CAST((sum(n_total_tokens) + ${shards - 1}) // $shards
        AS BIGINT) AS ssize
      FROM pa_ac),
    pa_sh AS MATERIALIZED (
      SELECT CAST((cs - n_total_tokens) // ssize AS BIGINT) AS shard_id,
        ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':ck'),
          1, 8))::BIGINT AS ck
      FROM (SELECT doc_id, n_total_tokens,
              CAST(sum(n_total_tokens) OVER (ORDER BY h, doc_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cs
            FROM (SELECT *, ('0x' || substring(
                md5(CAST(doc_id AS VARCHAR) || ':mm'), 1, 8))::BIGINT AS h
              FROM pa_ac)), pa_sz),
    pa_a0 AS (
      SELECT count(*) AS d_u, CAST(sum(n_tokens) AS BIGINT) AS t_u,
        (SELECT count(*) FROM documents WHERE doc_id % $PlantMod = 0) AS np
      FROM pa_tok),
    pa_a1 AS (
      SELECT count(*) FILTER (WHERE NOT r_words) AS fw,
        count(*) FILTER (WHERE NOT r_mean_len) AS fm,
        count(*) FILTER (WHERE NOT r_symbols) AS fs,
        count(*) FILTER (WHERE NOT r_alpha) AS fa,
        count(*) FILTER (WHERE NOT r_stopwords) AS fst
      FROM pa_qf),
    pa_a2 AS (
      SELECT count(*) AS d1,
        CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS t1
      FROM pa_s1),
    pa_a3 AS (
      SELECT count(DISTINCT lab) AS ncl, count(*) AS nmem FROM pa_comp),
    pa_a4 AS (
      SELECT count(*) AS d2,
        CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS t2
      FROM pa_s2),
    pa_a5 AS (
      SELECT CAST(coalesce(sum(n_clips), 0) AS BIGINT) AS nclips,
        count(*) FILTER (WHERE n_clips > 0) AS ndwa,
        CAST(coalesce(sum(n_total_tokens), 0) AS BIGINT) AS t3
      FROM pa_ac),
    pa_a6 AS (
      SELECT count(DISTINCT shard_id) AS nshards,
        CAST(coalesce(sum(ck), 0) AS BIGINT) AS chk
      FROM pa_sh),
    pa_a AS (
      SELECT * FROM pa_a0, pa_a1, pa_a2, pa_a3, pa_a4, pa_a5, pa_a6)
    SELECT stage_id, stage, docs_in, docs_kept,
      docs_in - docs_kept AS docs_dropped, tokens_in, tokens_out, detail
    FROM (
      SELECT CAST(0 AS BIGINT) AS stage_id, 'arrive' AS stage,
        d_u AS docs_in, d_u AS docs_kept, t_u AS tokens_in,
        t_u AS tokens_out,
        'planted=' || CAST(np AS VARCHAR) AS detail FROM pa_a
      UNION ALL
      SELECT 1, 'quality', d_u, d1, t_u, t1,
        'r_words=' || CAST(fw AS VARCHAR)
          || ',r_mean_len=' || CAST(fm AS VARCHAR)
          || ',r_symbols=' || CAST(fs AS VARCHAR)
          || ',r_alpha=' || CAST(fa AS VARCHAR)
          || ',r_stopwords=' || CAST(fst AS VARCHAR) FROM pa_a
      UNION ALL
      SELECT 2, 'audio_dedup', d1, d2, t1, t2,
        'clusters=' || CAST(ncl AS VARCHAR)
          || ',members=' || CAST(nmem AS VARCHAR) FROM pa_a
      UNION ALL
      SELECT 3, 'interleave', d2, d2, t2, t3,
        'clips=' || CAST(nclips AS VARCHAR)
          || ',docs_with_audio=' || CAST(ndwa AS VARCHAR)
          || ',audio_tokens=' || CAST(t3 - t2 AS VARCHAR) FROM pa_a
      UNION ALL
      SELECT 4, 'shard', d2, d2, t3, t3,
        'shards=' || CAST(nshards AS VARCHAR)
          || ',check=' || CAST(chk AS VARCHAR) FROM pa_a)
    ORDER BY stage_id"""
  }

  val pipelineE2eAudioIncrSql: String = {
    val shards = TrainPrep.OutShards
    s"""
    WITH RECURSIVE ${AudioFp.audioFpCtesSql},
    pb_u AS (
      SELECT doc_id, lang, text FROM documents
      UNION ALL
      SELECT doc_id + $PlantShift, lang, text FROM documents
      WHERE doc_id % $PlantMod = 0),
    ${Pipeline.gopherCtes("pb_u", "pb_")},
    pb_s1 AS MATERIALIZED (
      SELECT doc_id, text, n_tokens FROM pb_qf
      WHERE r_words AND r_mean_len AND r_symbols AND r_alpha
        AND r_stopwords),
    pb_b1 AS MATERIALIZED (SELECT * FROM pb_s1
      WHERE (doc_id % $PlantShift) % $IncrMod <> $IncrRes),
    pb_i1 AS MATERIALIZED (SELECT * FROM pb_s1
      WHERE (doc_id % $PlantShift) % $IncrMod = $IncrRes),
    pb_bedges AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM afcand
        JOIN pb_b1 a ON id_a = a.doc_id JOIN pb_b1 b ON id_b = b.doc_id
      WHERE hamming <= ${AudioFp.AudioFpMaxHamming}
      UNION
      SELECT id_b, id_a FROM afcand
        JOIN pb_b1 a ON id_a = a.doc_id JOIN pb_b1 b ON id_b = b.doc_id
      WHERE hamming <= ${AudioFp.AudioFpMaxHamming}),
    pb_breach(id, lab) AS (
      SELECT src, src FROM pb_bedges
      UNION
      SELECT e.src, r.lab FROM pb_bedges e JOIN pb_breach r
        ON r.id = e.dst),
    pb_bcomp AS MATERIALIZED (
      SELECT id AS doc_id, min(lab) AS lab FROM pb_breach GROUP BY id),
    pb_b2 AS MATERIALIZED (
      SELECT p.doc_id, p.text
      FROM pb_b1 p LEFT JOIN pb_bcomp c USING (doc_id)
      WHERE c.lab IS NULL OR p.doc_id = c.lab),
    pb_bac AS MATERIALIZED (${audioAccSql("pb_b2")}),
    pb_btot AS MATERIALIZED (
      SELECT count(*) AS base_docs,
        CAST(coalesce(sum(n_total_tokens), 0) AS BIGINT) AS base_total
      FROM pb_bac),
    pb_medges AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM afcand
        JOIN pb_s1 a ON id_a = a.doc_id JOIN pb_s1 b ON id_b = b.doc_id
      WHERE hamming <= ${AudioFp.AudioFpMaxHamming}
      UNION
      SELECT id_b, id_a FROM afcand
        JOIN pb_s1 a ON id_a = a.doc_id JOIN pb_s1 b ON id_b = b.doc_id
      WHERE hamming <= ${AudioFp.AudioFpMaxHamming}),
    pb_mreach(id, lab) AS (
      SELECT src, src FROM pb_medges
      UNION
      SELECT e.src, r.lab FROM pb_medges e JOIN pb_mreach r
        ON r.id = e.dst),
    pb_mcomp AS MATERIALIZED (
      SELECT id AS doc_id, min(lab) AS lab FROM pb_mreach GROUP BY id),
    pb_hasb AS MATERIALIZED (
      SELECT DISTINCT m.lab FROM pb_mcomp m
      JOIN pb_b1 b ON m.doc_id = b.doc_id),
    pb_i2 AS MATERIALIZED (
      SELECT i.doc_id, i.text, i.n_tokens
      FROM pb_i1 i LEFT JOIN pb_mcomp m ON i.doc_id = m.doc_id
      WHERE m.lab IS NULL
        OR (m.lab NOT IN (SELECT lab FROM pb_hasb)
            AND i.doc_id = m.lab)),
    pb_iac AS MATERIALIZED (${audioAccSql("pb_i2")}),
    pb_isz AS (
      SELECT greatest(1, CAST((base_total + ${shards - 1})
        // $shards AS BIGINT)) AS ssize
      FROM pb_btot),
    pb_ish AS MATERIALIZED (
      SELECT doc_id,
        CAST((base_total + cs - n_total_tokens) // ssize AS BIGINT)
          AS shard_id,
        ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':ck'),
          1, 8))::BIGINT AS ck
      FROM (SELECT doc_id, n_total_tokens,
              CAST(sum(n_total_tokens) OVER (ORDER BY h, doc_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cs
            FROM (SELECT *, ('0x' || substring(
                md5(CAST(doc_id AS VARCHAR) || ':mm'), 1, 8))::BIGINT AS h
              FROM pb_iac)), pb_isz, pb_btot),
    pb_a0 AS (
      SELECT count(*) AS d_i0,
        CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS t_i0,
        (SELECT count(*) FROM documents WHERE doc_id % $PlantMod = 0
           AND (doc_id % $PlantShift) % $IncrMod = $IncrRes) AS np
      FROM pb_tok
      WHERE (doc_id % $PlantShift) % $IncrMod = $IncrRes),
    pb_a1 AS (
      SELECT count(*) FILTER (WHERE NOT r_words) AS fw,
        count(*) FILTER (WHERE NOT r_mean_len) AS fm,
        count(*) FILTER (WHERE NOT r_symbols) AS fs,
        count(*) FILTER (WHERE NOT r_alpha) AS fa,
        count(*) FILTER (WHERE NOT r_stopwords) AS fst
      FROM pb_qf WHERE (doc_id % $PlantShift) % $IncrMod = $IncrRes),
    pb_a2 AS (
      SELECT count(*) AS d1,
        CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS t1 FROM pb_i1),
    pb_a3 AS (
      SELECT count(*) FILTER (WHERE m.lab IN (SELECT lab FROM pb_hasb))
          AS vs_base,
        count(DISTINCT CASE WHEN m.lab IS NOT NULL
          AND m.lab NOT IN (SELECT lab FROM pb_hasb)
          THEN m.lab END) AS clusters_new
      FROM pb_i1 i LEFT JOIN pb_mcomp m ON i.doc_id = m.doc_id),
    pb_a4 AS (
      SELECT count(*) AS d2,
        CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS t2 FROM pb_i2),
    pb_a5 AS (
      SELECT CAST(coalesce(sum(n_clips), 0) AS BIGINT) AS nclips,
        count(*) FILTER (WHERE n_clips > 0) AS ndwa,
        CAST(coalesce(sum(n_total_tokens), 0) AS BIGINT) AS t3
      FROM pb_iac),
    pb_a6 AS (
      SELECT count(DISTINCT shard_id) AS nshards,
        CAST(coalesce(sum(ck), 0) AS BIGINT) AS chk
      FROM pb_ish),
    pb_a AS (
      SELECT * FROM pb_a0, pb_a1, pb_a2, pb_a3, pb_a4, pb_a5, pb_a6,
        pb_btot)
    SELECT stage_id, stage, docs_in, docs_kept,
      docs_in - docs_kept AS docs_dropped, tokens_in, tokens_out, detail
    FROM (
      SELECT CAST(0 AS BIGINT) AS stage_id, 'arrive' AS stage,
        d_i0 AS docs_in, d_i0 AS docs_kept, t_i0 AS tokens_in,
        t_i0 AS tokens_out,
        'planted=' || CAST(np AS VARCHAR)
          || ',base_docs=' || CAST(base_docs AS VARCHAR)
          || ',base_tokens=' || CAST(base_total AS VARCHAR) AS detail
        FROM pb_a
      UNION ALL
      SELECT 1, 'quality', d_i0, d1, t_i0, t1,
        'r_words=' || CAST(fw AS VARCHAR)
          || ',r_mean_len=' || CAST(fm AS VARCHAR)
          || ',r_symbols=' || CAST(fs AS VARCHAR)
          || ',r_alpha=' || CAST(fa AS VARCHAR)
          || ',r_stopwords=' || CAST(fst AS VARCHAR) FROM pb_a
      UNION ALL
      SELECT 2, 'audio_dedup', d1, d2, t1, t2,
        'vs_base=' || CAST(vs_base AS VARCHAR)
          || ',clusters_new=' || CAST(clusters_new AS VARCHAR) FROM pb_a
      UNION ALL
      SELECT 3, 'interleave', d2, d2, t2, t3,
        'clips=' || CAST(nclips AS VARCHAR)
          || ',docs_with_audio=' || CAST(ndwa AS VARCHAR)
          || ',audio_tokens=' || CAST(t3 - t2 AS VARCHAR) FROM pb_a
      UNION ALL
      SELECT 4, 'shard', d2, d2, t3, t3,
        'shards=' || CAST(nshards AS VARCHAR)
          || ',check=' || CAST(chk AS VARCHAR) FROM pb_a) z
    ORDER BY stage_id"""
  }
}
