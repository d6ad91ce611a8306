SELECT doc_id,
       CAST(CASE WHEN doc_id % 5 IN (0, 2, 3) THEN 1 ELSE 0 END
            AS DOUBLE) AS debug_score,
       CAST(CASE WHEN doc_id % 4 IN (0, 2) THEN 1 ELSE 0 END
            AS DOUBLE) AS choice_score,
       CAST(doc_id % 5 AS DOUBLE) / 4 AS calc_score
FROM documents
