WITH p AS (
    SELECT c_mktsegment AS s,
           ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                              ORDER BY c_custkey) - 1 AS paper_pos,
           c_name AS title,
           'u_' || CAST(c_custkey AS VARCHAR) AS url
    FROM customer WHERE c_custkey <= 40),
n AS (SELECT s, COUNT(*) AS n_papers FROM p GROUP BY s),
sec AS (
    SELECT s, paper_pos AS pos,
           CASE WHEN paper_pos = 0
                THEN '# Sec 0' || chr(10) || 'Overview cites [1].'
                ELSE '## Sec ' || CAST(paper_pos AS VARCHAR) || chr(10)
                     || 'Body [' || CAST(paper_pos + 1 AS VARCHAR)
                     || '] then [1] and .'
           END AS block
    FROM p WHERE paper_pos < 4),
md AS (SELECT s,
              STRING_AGG(block, chr(10) || chr(10) ORDER BY pos)
                  AS content_md,
              COUNT(*) AS n_sections
       FROM sec GROUP BY s),
refs AS (SELECT s, '## References' || chr(10) ||
                STRING_AGG('[' || CAST(paper_pos + 1 AS VARCHAR)
                           || '] ' || title || ' ' || url
                           || chr(10) || chr(10),
                           '' ORDER BY paper_pos) AS ref_str
         FROM p GROUP BY s)
SELECT md.s AS survey_id, content_md,
       CAST(n_sections AS BIGINT) AS n_sections,
       CAST(LEAST(4, n_papers) AS DOUBLE) / n_papers AS cite_ratio,
       CAST(n_papers AS BIGINT) AS n_papers, ref_str
FROM md JOIN n ON md.s = n.s JOIN refs ON md.s = refs.s
