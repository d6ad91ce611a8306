WITH p AS (
    SELECT c_mktsegment AS s,
           ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                              ORDER BY c_custkey) - 1 AS paper_pos,
           'ck_' || CAST(c_custkey AS VARCHAR) AS bibkey
    FROM customer WHERE c_custkey <= 40)
SELECT s AS survey_id, CAST(paper_pos AS INT) AS pos,
       'Section cites [' || CAST(paper_pos + 1 AS VARCHAR) || '] and .' AS content,
       bibkey AS cited
FROM p WHERE paper_pos < 3
