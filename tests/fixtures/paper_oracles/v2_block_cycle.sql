SELECT * FROM (VALUES
    ('survey0', CAST(1 AS INTEGER), CAST(5 AS BIGINT),
     TRUE, TRUE, CAST(1 AS INTEGER)),
    ('survey1', CAST(1 AS INTEGER), CAST(5 AS BIGINT),
     TRUE, TRUE, CAST(1 AS INTEGER))
) AS t(survey_id, block_cycle_count, n_sections,
       refined_outline_has_section, section_rediggested,
       n_block_cycles_scored)
