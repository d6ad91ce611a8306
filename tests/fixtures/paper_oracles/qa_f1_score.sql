WITH base AS (
    SELECT doc_id, TRIM(REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(SUBSTR(text, 1, 120)), '[!\"#$%&''()*+,./:;<=>?@\[\]^_`{|}~\\-]', '', 'g'), '\b(a|an|the)\b', ' ', 'g'), '\s+', ' ', 'g')) AS pn,
           TRIM(REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(SUBSTR(text, 61, 120)), '[!\"#$%&''()*+,./:;<=>?@\[\]^_`{|}~\\-]', '', 'g'), '\b(a|an|the)\b', ' ', 'g'), '\s+', ' ', 'g')) AS gn
    FROM documents),
pt AS (SELECT doc_id, t, COUNT(*) AS c
       FROM (SELECT doc_id, UNNEST(string_split(pn, ' ')) AS t FROM base)
       WHERE t <> '' GROUP BY doc_id, t),
gt AS (SELECT doc_id, t, COUNT(*) AS c
       FROM (SELECT doc_id, UNNEST(string_split(gn, ' ')) AS t FROM base)
       WHERE t <> '' GROUP BY doc_id, t),
inter AS (SELECT p.doc_id, SUM(LEAST(p.c, g.c)) AS m
          FROM pt p JOIN gt g ON p.doc_id = g.doc_id AND p.t = g.t
          GROUP BY p.doc_id),
lens AS (SELECT b.doc_id,
                (SELECT COALESCE(SUM(c), 0) FROM pt WHERE pt.doc_id = b.doc_id) AS lp,
                (SELECT COALESCE(SUM(c), 0) FROM gt WHERE gt.doc_id = b.doc_id) AS lg
         FROM base b)
SELECT lens.doc_id,
       CASE WHEN m IS NULL OR m = 0 OR lp = 0 OR lg = 0 THEN 0.0
            ELSE (2 * (CAST(m AS DOUBLE) / lp) * (CAST(m AS DOUBLE) / lg))
                 / ((CAST(m AS DOUBLE) / lp) + (CAST(m AS DOUBLE) / lg))
       END AS f1
FROM lens LEFT JOIN inter ON lens.doc_id = inter.doc_id
