WITH s AS (SELECT doc_id, CAST(doc_id % 4 AS DOUBLE) AS k
           FROM documents)
SELECT doc_id,
       CASE WHEN k = 0 THEN CAST(0 AS DOUBLE)
            ELSE (2 * ((4 * k) / (3 * k + 3)) * ((4 * k) / 12))
                 / (((4 * k) / (3 * k + 3)) + ((4 * k) / 12))
       END AS rouge_lsum
FROM s
