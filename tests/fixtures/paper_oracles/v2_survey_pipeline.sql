SELECT * FROM (VALUES
    ('survey0', CAST(5 AS BIGINT), CAST(4 AS BIGINT),
     CAST(0.75 AS DOUBLE), CAST(358 AS INTEGER), CAST(1 AS INTEGER)),
    ('survey1', CAST(5 AS BIGINT), CAST(4 AS BIGINT),
     CAST(0.75 AS DOUBLE), CAST(358 AS INTEGER), CAST(1 AS INTEGER))
) AS t(survey_id, n_sections, n_papers, cite_ratio,
       content_len, block_cycle_count)
