SELECT 'p1' AS op, doc_id, CAST(NULL AS VARCHAR) AS cleaned
FROM (
    SELECT doc_id FROM documents WHERE doc_id % 7 <> 0
)
UNION ALL
SELECT 'p3' AS op, doc_id, cleaned FROM (
    SELECT doc_id,
           REGEXP_REPLACE(
             REGEXP_REPLACE(
               SUBSTR(text, 1, 120) || ' see [ref_a, ref_b] for detail.' || CHR(10) ||
               '# References' || CHR(10) || '[ref_a] Paper A' || CHR(10) || '[ref_b] Paper B' || CHR(10),
               '(?smi)^# (References|REFERENCE|REFERENCES|Bibliography)\s.*', ''),
             '\[(.*?)\]', '', 'g') AS cleaned
    FROM documents
)
