SELECT a.doc_id, a.bibkey, b.norm
FROM (
    SELECT doc_id,
           REGEXP_REPLACE(
             REPLACE(
               REGEXP_REPLACE(
                 REPLACE(LOWER(TRIM(SUBSTR(text, 1, 50))), '-', '_'),
                 '[^\p{L}\p{N}_\s]', '', 'g'),
               ' ', '_'),
             '_{2,}', '_', 'g') AS bibkey
    FROM documents
) a
JOIN (SELECT doc_id, TRIM(REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(SUBSTR(text, 1, 100)), '[!\"#$%&''()*+,./:;<=>?@\[\]^_`{|}~\\-]', '', 'g'), '\b(a|an|the)\b', ' ', 'g'), '\s+', ' ', 'g')) AS norm FROM documents) b USING (doc_id)
