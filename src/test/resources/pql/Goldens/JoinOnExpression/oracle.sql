SELECT l.EventId, l.EventType, r.Category
FROM StormEvents l
JOIN (SELECT EventType AS Kind, Category FROM EventTypes) r ON l.EventType = r.Kind
ORDER BY l.EventId ASC NULLS FIRST
